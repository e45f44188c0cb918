package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.pipeline.BatchDirs

/** Deduplication operators for training-data curation, in increasing
  * fuzziness: exact (hash groupBy), n-gram Jaccard, MinHash+LSH,
  * SimHash, embedding-cosine near-dup (see [[Similarity]] for the
  * embedding path).
  *
  * Scale notes (the whole point of these designs):
  *  - exact dedup is one hash-aggregate shuffle on a 16-byte key, not on
  *    the full text;
  *  - MinHash/LSH candidate generation NEVER does an all-pairs join: docs
  *    shuffle by (band, band_signature) and only same-bucket docs pair,
  *    with a per-bucket cap to bound the quadratic worst case (a
  *    degenerate bucket of 1M docs would otherwise emit 10^12 pairs);
  *  - Jaccard verification runs only on LSH candidates.
  *
  * All hash material is md5-derived so the identical computation is
  * expressible in ANSI SQL for the DuckDB oracle.
  */
object Dedup {

  /** Exact duplicates by normalized fingerprint: one row per duplicate
    * group with its size and the minimum id (the canonical survivor).
    */
  def exactDupGroups(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(count(lit(1)).as("n_docs"), min(col(idCol)).as("keep_id"))
      .filter(col("n_docs") > 1)

  /** Keep one doc per exact-duplicate group (min id wins). No join back:
    * a single window-free aggregate + semi-join on the 16-byte key.
    */
  def dropExactDups(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val keep = df
      .groupBy(TextAnalysis.fingerprint(col(textCol)).as("fp"))
      .agg(min(col(idCol)).as(idCol))
      .select(idCol)
    df.join(keep, Seq(idCol), "left_semi")
  }

  /** Word n-gram shingles as an array column (distinct, sorted — set
    * semantics for Jaccard).
    *
    * PERF NOTE (r9): pass a MATERIALIZED token-array column as `toks`
    * wherever possible ([[tokensOf]] projected in a prior select — the
    * chunkPlan discipline). The lambda body references `toks` once per
    * ELEMENT (`size`/`slice`), so handing it the raw
    * `split(trim(lower(text)))` expression re-runs the regex split per
    * token — O(tokens²) splits per document (measured 10x on the
    * shingle stage at sf0.1).
    */
  def shinglesOfTokens(toks: Column, n: Int): Column =
    array_sort(array_distinct(shingleArr(toks, n)))

  /** The raw (non-distinct) shingle array from a token array column. */
  private def shingleArr(toks: Column, n: Int): Column =
    filter(
      transform(toks, (_, i) =>
        when(i <= size(toks) - n,
          concat_ws(" ", slice(toks, i + lit(1), lit(n))))),
      x => x.isNotNull)

  /** The ONE tokenization every shingle consumer shares. */
  def tokensOf(text: Column): Column = split(trim(lower(text)), "\\s+")

  /** Scale-adaptive input parallelization (guide §2.5 "input skew" —
    * one small/unsplittable file): when the upstream frame carries
    * fewer partitions than the cluster's parallelism, a compute-heavy
    * narrow chain above it (tokenize + shingle + md5) runs on a
    * fraction of the cores. Round-robin repartition to the default
    * parallelism — derived from the input, not a tuned constant: at
    * 100 TB a scan already carries far more partitions than cores and
    * this is a no-op (no shuffle added); it fires exactly when text
    * bytes are few enough that shuffling them is cheaper than leaving
    * cores idle.
    *
    * Deciding runs no job: `.rdd` is probed only on a plan without an
    * exchange, where the partition count is the leaves' and costs a
    * planning pass. A plan with an exchange passes through — `.rdd`
    * would run its stages just to count partitions, and a shuffle's
    * output is already spread.
    */
  def parallelized(df: DataFrame): DataFrame = {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.exchange.Exchange
    // streaming frames have no .rdd (and their micro-batch partitioning
    // is the source's business) — pass them through untouched
    if (df.isStreaming) return df
    // under AQE the exchanges sit in the adaptive node's initial plan
    // (its input plan with the exchanges inserted)
    val plan = df.queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.initialPlan
      case other => other
    }
    if (plan.exists(_.isInstanceOf[Exchange])) return df
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions < p) df.repartition(p) else df
  }

  /** Benchmark-contamination screen: for every corpus document, the
    * number of its n-gram shingles that also appear anywhere in a
    * benchmark/eval set — the standard decontamination pass before
    * training. The benchmark shingle set is tiny relative to the corpus,
    * so it is DISTINCT'd and broadcast: the corpus side is one explode +
    * a broadcast left-semi join + one hash aggregate — the 100 TB scan
    * never shuffles on its own size. n_overlap counts DISTINCT
    * overlapping shingles ([[shinglesOfTokens]] de-duplicates per
    * document).
    *
    * Both sides join on a 64-bit md5 PREFIX of the shingle, not the
    * shingle string: the broadcast shrinks from avg-shingle-length
    * (tens of bytes x n-gram text) to 16 fixed chars per entry, and the
    * probe hashes a short fixed-width key. A prefix collision marks one
    * extra shingle overlapping (never misses one) at ~2^-64 per pair —
    * noise against LSH-grade screening, and the oracle replays the same
    * hash so results stay exact-comparable.
    */
  def contaminationScreen(corpus: DataFrame, bench: DataFrame,
      idCol: String, textCol: String, shingleN: Int): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    def h(s: Column): Column = substring(md5(s), 1, 16)
    // distinct AFTER hashing too: two distinct bench shingles colliding
    // to one prefix must not double-match a corpus row
    // token arrays materialized before the shingle lambda on both sides
    // (see [[shinglesOfTokens]] — avoids the per-element re-split)
    val benchSh = bench
      .select(tokensOf(col(textCol)).as("_toks"))
      .select(explode(shinglesOfTokens(col("_toks"), shingleN)).as("s"))
      .distinct()
      .select(h(col("s")).as("sh_h")).distinct()
      .withColumn("_hit", lit(1))
    // ONE pass over the corpus: shingle once, explode_outer (docs with
    // no shingles keep a row), mark hits via a broadcast LEFT join
    // (benchSh is distinct, so each shingle matches at most once), then
    // a single aggregate yields both counts.
    parallelized(corpus)
      .select(col(idCol), tokensOf(col(textCol)).as("_toks"))
      .select(col(idCol),
        explode_outer(shinglesOfTokens(col("_toks"), shingleN)).as("s"))
      .select(col(idCol), h(col("s")).as("sh_h"))
      .join(broadcast(benchSh), Seq("sh_h"), "left")
      .groupBy(col(idCol))
      .agg(count(col("sh_h")).as("n_shingles"),
        count(col("_hit")).as("n_overlap"))
      .withColumn("contaminated", col("n_overlap") > 0)
  }

  /** Exploded (id, shingle) view — the input to MinHash. NOT
    * deduplicated or sorted: `min` is idempotent, so set semantics buy
    * nothing here and the O(T^2) `array_distinct` + O(T log T)
    * `array_sort` per doc are pure overhead (use [[shinglesOfTokens]]
    * where Jaccard's set semantics actually matter).
    */
  def shingleRows(df: DataFrame, idCol: String, textCol: String,
      n: Int): DataFrame =
    // token array materialized ONCE per row, then shingled in a second
    // projection: the shingle lambda reads `size`/`slice` of its token
    // array per element, and handing it the split() EXPRESSION instead
    // of a column re-runs the regex split per token — O(tokens²) work
    // that measured ~10x on this stage (CollapseProject keeps the
    // split un-inlined because it is non-cheap and multiply referenced
    // — the chunkPlan discipline).
    df.select(col(idCol), tokensOf(col(textCol)).as("_toks"))
      .select(col(idCol), explode(shingleArr(col("_toks"), n)).as("shingle"))

  /** MinHash signatures: `numHashes` columns mh0..mh{k-1} per doc, as
    * a fully NARROW per-row chain — tokens, shingles and the per-shingle
    * digest array are each materialized once per row in their own
    * projection, then each mh_i is an `array_min` over 4-hex-char
    * slices of the digest array. ZERO exchanges: signatures pipeline
    * inside WholeStageCodegen straight into the band explode, so a
    * 100 TB corpus is never shuffled for its signatures at all.
    *
    * History: rounds 4-8 shipped this as explode + groupBy(id) + 8 min
    * aggregates, with a note that the narrow form measured 8x SLOWER —
    * that measurement predates the r9 token-materialization fix: the
    * old narrow form re-inlined the whole split+shingle expression
    * into every hash column (and the shingle lambda re-split per
    * token). With `_digs` a materialized column (non-cheap, referenced
    * `numHashes` times, so CollapseProject keeps it single-eval — r9
    * plan-verified: ONE transform(..., md5) per digest group in the
    * final plan), the narrow form wins: the explode, the partial+final
    * hash-agg and the Exchange disappear (isolated: 1.26 s -> ~0.7 s
    * at sf0.1, and every downstream consumer drops one Exchange).
    *
    * One md5 digest per 8 slices: digest g of a shingle is
    * md5(shingle) for g=0 and md5("g|shingle") for g>0 (seed-prefixed,
    * same scheme the oracle replays); hash i = 4-hex slice i%8 of
    * digest i/8. String-min of fixed-width hex == numeric min. Rows
    * with zero shingles (< shingleN tokens) are filtered exactly as
    * the grouped form dropped them (no exploded rows -> no group).
    * 16-bit values bias the Jaccard estimate by ~|A∪B|/2^16 — noise at
    * document scale — and band signatures (2 slices = 32 bits) stay
    * collision-safe.
    */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int, numHashes: Int): DataFrame = {
    val nDigests = (numHashes + 7) / 8
    val digCols = (0 until nDigests).map { g =>
      val digest: Column => Column =
        if (g == 0) md5(_) else s => md5(concat(lit(s"$g|"), s))
      transform(col("_sh"), digest).as(s"_digs$g")
    }
    val mins = (0 until numHashes).map { i =>
      array_min(transform(col(s"_digs${i / 8}"),
        d => substring(d, 1 + 4 * (i % 8), 4))).as(s"mh$i")
    }
    parallelized(df)
      .select(col(idCol), tokensOf(col(textCol)).as("_toks"))
      .filter(size(col("_toks")) >= shingleN)
      .select(col(idCol), shingleArr(col("_toks"), shingleN).as("_sh"))
      .select(col(idCol) +: digCols: _*)
      .select(col(idCol) +: mins: _*)
  }

  /** LSH banding: concat `rowsPerBand` consecutive minhashes into one
    * band signature; docs sharing any (band, signature) are candidates.
    * Returns (band, sig, id).
    */
  def lshBands(sigs: DataFrame, idCol: String, numHashes: Int,
      rowsPerBand: Int): DataFrame = {
    val numBands = numHashes / rowsPerBand
    val bands = (0 until numBands).map { b =>
      struct(lit(b).as("band"),
        concat_ws("", (0 until rowsPerBand)
          .map(r => col(s"mh${b * rowsPerBand + r}")): _*).as("sig"))
    }
    sigs.select(col(idCol), explode(array(bands: _*)).as("bs"))
      .select(col("bs.band"), col("bs.sig"), col(idCol))
  }

  /** Candidate pairs from LSH buckets — the shuffle is BY BUCKET, never
    * all-pairs. `maxBucket` caps pathological buckets (skew defense: a
    * bucket of b docs emits b^2/2 pairs; at 10^12 docs an uncapped hot
    * bucket is the job-killer, so oversized buckets are dropped and
    * reported rather than silently exploding).
    *
    * Shape: ONE grouped pass — ids collected per (band, sig), pairs
    * emitted by array expressions. A self-join formulation would
    * re-derive the whole (expensive) signature subtree for each join
    * input and shuffle it twice more; collect-then-expand touches the
    * signatures once, and the per-bucket cap bounds the collected array
    * at `maxBucket` ids.
    */
  /** Buckets DROPPED by the `maxBucket` skew cap — the "no silent caps"
    * companion to [[lshCandidatePairs]]: a curation job reports these
    * (band, sig, n) rows so a pathological bucket (e.g. a boilerplate
    * shingle shared by 10^6 docs) is visible, not silently skipped.
    * Members of an oversized bucket are usually exact/near-exact dups of
    * a template — route them to [[exactDupGroups]] instead.
    */
  def lshOversizedBuckets(bands: DataFrame, idCol: String,
      maxBucket: Int = 1000): DataFrame =
    bands.groupBy(col("band"), col("sig"))
      .agg(count(lit(1)).as("n"), min(col(idCol)).as("example_id"))
      .filter(col("n") > maxBucket)

  def lshCandidatePairs(bands: DataFrame, idCol: String,
      maxBucket: Int = 1000): DataFrame = {
    val buckets = bands.groupBy(col("band"), col("sig"))
      .agg(array_sort(collect_set(col(idCol))).as("ids"))
      .filter(size(col("ids")) > 1 && size(col("ids")) <= maxBucket)
    // all ascending (a, b) pairs of the sorted id array
    val pairs = flatten(transform(col("ids"), (a, i) =>
      transform(slice(col("ids"), i + lit(2),
        greatest(size(col("ids")) - i - 1, lit(0))),
        b => struct(a.as("id_a"), b.as("id_b")))))
    buckets
      .select(explode(pairs).as("p"))
      .select(col("p.id_a"), col("p.id_b"))
      .distinct()
  }

  /** Connected components over near-dup PAIRS, with survivor selection —
    * the transitive-closure step production corpus dedup runs on
    * LSH/SimHash pair output (A~B and B~C collapse to one cluster even
    * when A!~C, and exactly one member survives).
    *
    * Bounded-iteration min-label propagation WITH POINTER JUMPING,
    * entirely shuffle-side (no driver union-find, no collect): label(x)
    * starts as x; each iteration first takes the neighbor min
    * (min(label(x), min over neighbors' labels)), then SHORTCUTS
    * label(x) <- label(label(x)) — the pointer-doubling step that makes
    * the reach grow geometrically, so convergence is O(log diameter)
    * rounds, not O(diameter): a 50-long chain of pairwise near-dups
    * (versioned/serial documents — a real shape, not just adversarial)
    * converges in 6 iterations instead of ~50. Labels only DECREASE
    * and every label value is a node id inside the same component
    * (both invariants are what make the shortcut sound), so an early
    * stop at `maxIters` over-segments but never over-merges — and is
    * reported loudly (no silent caps).
    *
    * Per-iteration cost: one equi-join edges->labels + one hash-agg
    * (the neighbor min) + one self-join of the label table (the
    * shortcut) + one change-count — every operator shuffles on the id
    * key, nothing quadratic. Each iteration's post-step labels are
    * localCheckpoint'ed (eager), which TRUNCATES the logical plan:
    * without it the plan tree doubles per iteration and the driver
    * OOMs just PRINTING it around iteration 7 (measured); the shortcut
    * self-join then reads that checkpointed leaf twice rather than
    * re-deriving the step. At cluster scale, `checkpoint` to reliable
    * storage every few iterations is the executor-loss-safe variant of
    * the same truncation.
    *
    * Returns (id, cluster_id = min id in component, keep = survivor),
    * for ids that appear in at least one pair (singletons are not the
    * pair graph's business).
    *
    * CACHE LIFETIME: the returned frame is backed by the final
    * iteration's localCheckpoint blocks, which live until the session
    * ends. A caller that wants them freed deterministically uses
    * [[resolveClustersIter]] and calls `release()` after its last
    * action on the labels (the materializing surfaces —
    * [[writeClusters]] — do exactly that).
    */
  def resolveClusters(pairs: DataFrame, maxIters: Int = 20): DataFrame =
    resolveClustersIter(pairs, maxIters).labels

  /** One min-label propagation step over (edges, labels): ONE equi-join
    * + ONE hash aggregate. Each node's neighbor labels arrive as
    * messages (dst's label delivered to src); the node's own label
    * rides along as a tagged self-message, so a single grouped
    * aggregate computes both the carried `label` (the self message)
    * and `_next` = least(label, neighbor-min) — the pre-r9 form folded
    * the neighbor min back with a second (left) join, one more
    * join + exchange per iteration for the same result (a node with no
    * delivered messages keeps its label: the self message is always
    * present). Emits (id, label, _next). Factored out so the
    * physical-plan shape is pinnable un-checkpointed (PlanSpec) —
    * [[resolveClustersIter]] applies exactly this, truncated per
    * iteration.
    */
  private[graft] def propagationStep(edges: DataFrame,
      labels: DataFrame): DataFrame =
    edges
      .join(labels.select(col("id").as("dst"), col("label").as("_nl")),
        Seq("dst"))
      .select(col("src").as("id"), col("_nl"), lit(false).as("_self"))
      .unionByName(labels.select(col("id"), col("label").as("_nl"),
        lit(true).as("_self")))
      .groupBy(col("id"))
      .agg(max(when(col("_self"), col("_nl"))).as("label"),
        min(col("_nl")).as("_next"))

  /** The checkpointed RDD backing an eager localCheckpoint'ed frame —
    * its plan is a single LogicalRDD leaf. Used to free superseded
    * iterations' blocks promptly instead of waiting for driver GC.
    */
  private def checkpointRdd(df: DataFrame): Option[org.apache.spark.rdd.RDD[_]] =
    df.queryExecution.logical.collectFirst {
      case l: org.apache.spark.sql.execution.LogicalRDD => l.rdd
    }

  /** A finished cluster resolution: the labels frame, how many
    * iterations ran, whether the fixpoint was reached, and `release` —
    * frees the final iteration's localCheckpoint blocks backing
    * `labels`. Call it only AFTER the last action on `labels` (the
    * frame recomputes from a cached RDD that `release` destroys).
    */
  case class Resolution(labels: DataFrame, iterations: Int,
      converged: Boolean, release: () => Unit)

  /** As [[resolveClusters]], returning the full [[Resolution]] so
    * callers (and tests) can observe the bound firing and free the
    * final checkpoint's storage deterministically.
    */
  def resolveClustersIter(pairs: DataFrame,
      maxIters: Int = 20): Resolution = {
    require(maxIters >= 1, "need at least one propagation iteration")
    val edges = pairs
      .select(col("id_a").as("src"), col("id_b").as("dst"))
      .union(pairs.select(col("id_b").as("src"), col("id_a").as("dst")))
      .distinct().cache()
    // labels₀(x) = x is never materialized (r9): under the identity
    // labeling, every neighbor's label IS its node id, so iteration 1
    // needs no labels join at all — the edge rows are the neighbor
    // messages verbatim, and the distinct src ids are the self
    // messages. This drops the init checkpoint job AND iteration 1's
    // join; iterations 2+ run the shared [[propagationStep]].
    def firstStep: DataFrame = edges
      .select(col("src").as("id"), col("dst").as("_nl"),
        lit(false).as("_self"))
      .unionByName(edges.select(col("src").as("id")).distinct()
        .select(col("id"), col("id").as("_nl"), lit(true).as("_self")))
      .groupBy(col("id"))
      .agg(max(when(col("_self"), col("_nl"))).as("label"),
        min(col("_nl")).as("_next"))
    var labels: DataFrame = null
    // blocks of superseded iterations are unpersisted as soon as the
    // next checkpoint is materialized — at most TWO label snapshots
    // live at any moment, not O(iterations)
    var prevCk: Option[org.apache.spark.rdd.RDD[_]] = None
    var iters = 0
    var converged = false
    while (!converged && iters < maxIters) {
      // eager localCheckpoint: materializes AND truncates the plan, so
      // the shortcut self-join below reads a leaf twice instead of
      // re-deriving the join+agg step, and the next iteration builds
      // on a shallow plan, not on this one's tree
      val stepped = (if (iters == 0) firstStep
        else propagationStep(edges, labels)).localCheckpoint(true)
      // convergence is decidable from the STEP alone: if no label
      // decreased under neighbor-min, every label already equals its
      // component minimum (otherwise, on a path from a mislabeled node
      // to its component min, the first edge where the label drops
      // would have fired a neighbor-min change), so the jump would be
      // a provable no-op — the final iteration skips it entirely. The
      // count is a scan of the checkpoint blocks just materialized,
      // not a recompute.
      val changed = stepped.filter(col("_next") < col("label")).count()
      converged = changed == 0L
      if (converged) {
        if (labels == null) {
          // converged on the very first step (edge set already at its
          // fixpoint, e.g. empty): stepped IS the label table
          labels = stepped.select(col("id"), col("label"))
          prevCk = checkpointRdd(stepped)
        } else {
          // labels unchanged this iteration; stepped is redundant
          checkpointRdd(stepped).foreach(_.unpersist(blocking = false))
        }
      } else {
        // pointer jump: label(x) <- label(label(x)). `_next` is always
        // a node id in x's component with _next(x) <= x, so the lookup
        // always matches (coalesce is belt-and-braces) and the jumped
        // value stays a same-component id — reach doubles per round.
        // The jumped frame is checkpointed too (r9): pre-r9 it was left
        // lazy, so the jump self-join ran TWICE per iteration — once
        // under the change-count and again when the next iteration's
        // checkpoint re-derived `labels` — and the count paid the join
        // instead of a cached-block scan.
        val jumped = stepped.join(
          stepped.select(col("id").as("_next"), col("_next").as("_jump")),
          Seq("_next"), "left")
          .select(col("id"),
            least(col("_next"), coalesce(col("_jump"), col("_next")))
              .as("label"))
          .localCheckpoint(true)
        labels = jumped
        // stepped's blocks are superseded as soon as jumped materializes
        checkpointRdd(stepped).foreach(_.unpersist(blocking = false))
        prevCk.foreach(_.unpersist(blocking = false))
        prevCk = checkpointRdd(jumped)
      }
      iters += 1
    }
    if (!converged)
      System.err.println(s"[resolveClusters] NOT converged after $iters " +
        s"iterations (component diameter exceeds 2^maxIters growth); " +
        "labels are an over-segmentation, never an over-merge")
    edges.unpersist()
    val lastCk = prevCk
    Resolution(
      labels.select(col("id"), col("label").as("cluster_id"),
        (col("id") === col("label")).as("keep")),
      iters, converged,
      () => lastCk.foreach(_.unpersist(blocking = false)))
  }

  /** ---- Pair-set materialization (compute pairs ONCE, consume many
    * times) ----------------------------------------------------------
    *
    * A 100 TB curation run cannot afford to re-shingle the corpus for
    * every pair consumer: cluster resolution, curated-corpus builds,
    * contamination reports and audit queries all want the SAME
    * candidate-pair set. These ops persist it per batch in the
    * `<root>/_pairs/<corpusId>` store (graft.pipeline.BatchDirs: a
    * per-batch overwrite makes re-runs idempotent; readers gate on a
    * committed-batch set, so an orphan dir from a crashed build is
    * invisible, and the store's fold survivors count too).
    */
  def pairsDir(root: String, corpusId: String): String =
    s"$root/_pairs/$corpusId"

  /** Persist a candidate-pair set for `batchId`. Only (id_a, id_b) is
    * stored — 16 bytes a row at long ids, so the pair table is tiny
    * next to the corpus that produced it.
    */
  def writePairs(pairs: DataFrame, root: String, corpusId: String,
      batchId: String): String =
    BatchDirs(pairsDir(root, corpusId))
      .write(pairs.select(col("id_a"), col("id_b")).distinct(), batchId)

  /** Read the committed pair set back (distinct across batches — two
    * batches may both have found a pair). None when no committed batch
    * exists: the pair schema is the corpus's id type, so there is no
    * honest empty frame to fabricate.
    */
  def readPairs(spark: org.apache.spark.sql.SparkSession, root: String,
      corpusId: String, committed: Set[String]): Option[DataFrame] =
    BatchDirs(pairsDir(root, corpusId)).read(spark, committed)
      .map(_.distinct())

  /** ---- Incremental MinHash-LSH (new docs against a persisted band
    * state — no re-shingling of the existing corpus) ----------------
    *
    * The persisted state is the BANDS table (band, sig, id): ~16 bytes
    * a row x numBands rows per doc, the only thing candidate
    * generation ever needs. A new ingest batch shingles ONLY its own
    * documents, joins its bands against the stored ones, and appends —
    * the 100 TB corpus is never re-read. A BatchDirs store like
    * `_pairs` (per-batch dirs, committed-batch gating).
    */
  def bandsDir(root: String, corpusId: String): String =
    s"$root/_bands/$corpusId"

  def writeBands(bands: DataFrame, root: String, corpusId: String,
      batchId: String, idCol: String): String =
    BatchDirs(bandsDir(root, corpusId))
      .write(bands.select(col("band"), col("sig"), col(idCol)), batchId)

  /** `dedupRows = false` skips the crash-window duplicate-row distinct:
    * that distinct is a FULL exchange of the corpus-sized band table —
    * on exactly the path the incremental design keeps narrow — and is
    * REDUNDANT for any consumer whose downstream is already
    * set-semantic ([[incrementalLshPairs]]' buckets are
    * size(collect_set(id)), so duplicated (band, sig, id) rows collapse
    * there regardless). Keep the default for consumers that count rows.
    */
  def readBands(spark: org.apache.spark.sql.SparkSession, root: String,
      corpusId: String, committed: Set[String],
      dedupRows: Boolean = true): Option[DataFrame] =
    BatchDirs(bandsDir(root, corpusId)).read(spark, committed)
      .map(raw => if (dedupRows) raw.distinct() else raw)

  /** ---- Namespace growth bounds for the dedup stores --------------
    *
    * `_pairs` and `_bands` accumulate one dir per ingest batch; a
    * long-lived corpus would otherwise grow the read fan-in (and the
    * dir listing) O(batches). Both are bounded by the store's fold
    * (`BatchDirs.fold`): whole-row distinct — for bands exactly the
    * (band, sig, id) distinct every reader already applies — with
    * readPairs/readBands absorbing crash-window duplicate rows through
    * their distinct. `_clusters` is bounded by [[compactClusters]]'
    * retention instead.
    */
  def clustersDir(root: String, corpusId: String): String =
    s"$root/_clusters/$corpusId"

  /** `_clusters` must NOT row-fold: each [[writeClusters]] batch is a
    * FULL label generation ([[mergeClusters]] emits merged labels, not
    * deltas), so a distinct union across generations would fabricate
    * ids with two conflicting labels. The honest bound is the store's
    * keep-only RETENTION (`BatchDirs.retain`): past `maxDirs` dirs,
    * keep only the current generation `keep` (superseded committed
    * generations and orphans alike are debris — single writer per
    * corpusId, post-commit call site, the same reasoning as the fold's
    * orphan rule).
    */
  def compactClusters(spark: org.apache.spark.sql.SparkSession,
      root: String, corpusId: String, keep: String,
      maxDirs: Int = 64): Boolean = {
    val store = BatchDirs(clustersDir(root, corpusId))
    val ids = store.ids(spark)
    if (ids.length <= maxDirs) return false
    // fail CLOSED before any delete: a `keep` that names no existing
    // dir (typo, or a generation whose writeClusters failed) would
    // otherwise delete EVERY generation — the retention pass must
    // never be able to empty the store
    require(ids.contains(keep),
      s"compactClusters: keep generation '$keep' does not exist at " +
        s"${store.path(keep)} — refusing to delete anything")
    store.retain(spark, _ == keep)
    true
  }

  /** Candidate pairs INVOLVING at least one new document, EXACTLY equal
    * to the full-corpus derivation restricted to such pairs (proof
    * sketch: a pair with a new member can only live in a bucket with
    * n_new > 0; within those buckets [[lshCandidatePairs]] recomputes
    * the identical sizes and skew cap over the union, so the pair set
    * and cap behavior match the from-scratch run bucket for bucket —
    * OpsSpec asserts the equality, and d21's oracle replays the full
    * derivation with the restriction).
    *
    * Cost shape: the stored side is touched ONLY by one (band, sig)
    * hash join + the per-bucket aggregate — never re-shingled, never
    * re-hashed; at scale, store the bands table bucketed by (band,
    * sig) and the join co-partitions.
    */
  def incrementalLshPairs(storedBands: DataFrame, newBands: DataFrame,
      idCol: String, maxBucket: Int = 1000): DataFrame = {
    // the NEW side is consumed three times (union, touched buckets,
    // new ids); when it arrives as a derivation (shingle+hash chain)
    // rather than a store read, re-deriving it per consumer triples
    // the batch's hashing cost — materialize once (r9). The band table
    // is ~4 short rows per document, far smaller than the batch text,
    // so the checkpoint is cheap at any batch size. Streaming callers
    // (none today) would pass a store-backed frame, which the
    // checkpoint also handles (it is simply a small cached copy).
    val nb = newBands.select(col("band"), col("sig"), col(idCol))
      .localCheckpoint(true)
    // a document present in BOTH sides (re-ingestion of an
    // already-committed doc) CANNOT double-count in bucket sizes: the
    // bucket aggregate is size(collect_set(id)) — set semantics — so
    // duplicated (band, sig, id) rows collapse before the maxBucket
    // skew cap reads the size (OpsSpec pins re-ingestion behavior). No
    // distinct here: it would add a full extra exchange over the
    // stored band table on exactly the path this operator keeps narrow.
    val all = storedBands.select(col("band"), col("sig"), col(idCol))
      .unionByName(nb)
    // buckets that gained a new member — the only place a new pair can
    // appear; everything else is pruned before any pair expansion
    val touched = nb.select(col("band"), col("sig")).distinct()
    val eligible = all.join(touched, Seq("band", "sig"), "left_semi")
    val pairs = lshCandidatePairs(eligible, idCol, maxBucket)
    val newIds = nb.select(col(idCol)).distinct()
    // keep pairs with a new member on EITHER side (old-old pairs inside
    // a touched bucket already exist in the prior state's pair set).
    // Two marker LEFT joins + one OR-filter, NOT two semi-joins
    // unioned: the semi-join form evaluates the whole bucket-expansion
    // subtree (bands of both sides included) once per branch — r9
    // measured the double derivation as ~35% of d21. `pairs` is
    // already distinct, so the filter needs no trailing distinct; a
    // null marker (no match) ORs to null and the filter drops it,
    // exactly the semi-join membership semantics.
    pairs
      .join(newIds.select(col(idCol).as("id_a"), lit(true).as("_na")),
        Seq("id_a"), "left")
      .join(newIds.select(col(idCol).as("id_b"), lit(true).as("_nb")),
        Seq("id_b"), "left")
      .filter(col("_na") || col("_nb"))
      .select(col("id_a"), col("id_b"))
  }

  /** Resolve clusters from a pair set and PERSIST the labels as batch
    * `batchId` of the `<root>/_clusters/<corpusId>` store — the
    * production shape:
    * downstream consumers (curated-corpus builds, survivor joins) read
    * the persisted label table instead of each re-running the
    * propagation loop, and the final iteration's checkpoint storage is
    * released eagerly once the write has materialized it (the
    * deterministic-release path for [[Resolution]]).
    */
  def writeClusters(pairs: DataFrame, root: String, corpusId: String,
      batchId: String, maxIters: Int = 20,
      allowOverSegmented: Boolean = false): String = {
    val res = resolveClustersIter(pairs, maxIters)
    // fail CLOSED on non-convergence: a persisted label table is read
    // as authoritative by every downstream consumer (dropNonSurvivors,
    // mergeClusters, curated builds), and an over-segmentation marker
    // that lives only in driver stderr is a silent cap the moment the
    // table outlives the log. The operator raises maxIters, or
    // explicitly opts into persisting the (never-over-merged, merely
    // conservative) partial labels.
    if (!res.converged && !allowOverSegmented) {
      res.release()
      throw new IllegalStateException(
        s"cluster resolution did not converge within $maxIters " +
          "iterations; the labels are an over-segmentation — raise " +
          "maxIters or pass allowOverSegmented=true to persist anyway")
    }
    val dest = BatchDirs(clustersDir(root, corpusId)).write(res.labels, batchId)
    res.release()
    dest
  }

  /** Incremental cluster maintenance: fold NEW pairs (e.g.
    * [[incrementalLshPairs]] output) into an existing resolved label
    * table without re-running propagation over the historical pair
    * set. A label table is a CONNECTIVITY-PRESERVING contraction of
    * its pair graph (every member is connected to its cluster min by
    * the star edge (id, cluster_id)), so components of
    * (star edges ∪ new pairs) equal components of
    * (original pairs ∪ new pairs) — OpsSpec asserts the equality
    * against a from-scratch resolution. Cost: propagation over
    * |labels| + |newPairs| edges, independent of the historical pair
    * count; stars have diameter ≤ 2, so the pointer-jumping loop
    * converges in a handful of rounds.
    *
    * Note for LSH callers: feed labels resolved from the SAME pair
    * semantics the new pairs extend. The skew cap can drop a bucket
    * that GROWS past `maxBucket` between increments — that bucket's
    * pairs vanish from a from-scratch run but persist in the old
    * labels (merging never un-merges); [[lshOversizedBuckets]] reports
    * exactly those buckets.
    */
  def mergeClusters(labels: DataFrame, newPairs: DataFrame,
      maxIters: Int = 20): Resolution =
    resolveClustersIter(
      labels.filter(!col("keep"))
        .select(col("id").as("id_a"), col("cluster_id").as("id_b"))
        .unionByName(newPairs.select(col("id_a"), col("id_b")))
        .unionByName(labels.filter(col("keep"))
          .select(col("id").as("id_a"), col("id").as("id_b"))),
      maxIters)

  /** Drop near-duplicate non-survivors given a (possibly persisted)
    * pair set: resolve clusters, anti-join the non-survivors away.
    *
    * STORAGE NOTE: the resolution's final localCheckpoint blocks stay
    * pinned for the session lifetime (the returned frame recomputes
    * from them, so they cannot be freed here). Fine for a one-shot
    * call; a loop that resolves per corpus in one session should use
    * [[resolveClustersIter]] + [[dropNonSurvivors]] and call
    * `release()` after its terminal action — or [[writeClusters]],
    * which persists the labels and releases eagerly.
    */
  def dropNearDups(df: DataFrame, idCol: String, pairs: DataFrame): DataFrame =
    dropNonSurvivors(df, idCol, resolveClusters(pairs))

  /** Anti-join a resolved label table's non-survivors out of a corpus. */
  def dropNonSurvivors(df: DataFrame, idCol: String,
      labels: DataFrame): DataFrame =
    df.join(labels.filter(!col("keep")).select(col("id").as(idCol)),
      Seq(idCol), "left_anti")

  /** Verified n-gram Jaccard for a set of candidate pairs: emits
    * (id_a, id_b, inter, union_) as exact integers (ratios are for the
    * caller — integer outputs hash-compare exactly against any oracle).
    */
  def jaccardForPairs(df: DataFrame, pairs: DataFrame, idCol: String,
      textCol: String, shingleN: Int): DataFrame = {
    val withSh = df
      .select(col(idCol), tokensOf(col(textCol)).as("_toks"))
      .select(col(idCol), shinglesOfTokens(col("_toks"), shingleN).as("sh"))
    pairs
      .join(withSh.withColumnRenamed(idCol, "id_a")
        .withColumnRenamed("sh", "sh_a"), Seq("id_a"))
      .join(withSh.withColumnRenamed(idCol, "id_b")
        .withColumnRenamed("sh", "sh_b"), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        size(array_intersect(col("sh_a"), col("sh_b"))).as("inter"),
        size(array_union(col("sh_a"), col("sh_b"))).as("union_"))
  }

  /** Full MinHash-LSH near-dup pipeline: shingle -> minhash -> band ->
    * bucket-join -> Jaccard-verify -> threshold.
    */
  def minhashNearDups(df: DataFrame, idCol: String, textCol: String,
      shingleN: Int = 3, numHashes: Int = 16, rowsPerBand: Int = 2,
      jaccardThreshold: Double = 0.8, maxBucket: Int = 1000): DataFrame = {
    val sigs = minhashSignatures(df, idCol, textCol, shingleN, numHashes)
    val pairs = lshCandidatePairs(
      lshBands(sigs, idCol, numHashes, rowsPerBand), idCol, maxBucket)
    jaccardForPairs(df, pairs, idCol, textCol, shingleN)
      .filter(col("inter") >= col("union_") * jaccardThreshold)
  }

  /** The fingerprint column [[reRouteSeen]] can retain (keepFp=true) so
    * the store write side (Sinks.writeFingerprints, shared by the
    * cycle and the stream) reuses the ALREADY-computed hash instead of paying a
    * second md5+normalization pass over every row's text. Callers that
    * keep it must drop it before any user-facing write.
    */
  val fpColName = "_fp"

  /** Incremental cross-cycle dedup: a content row whose normalized
    * fingerprint ([[TextAnalysis.fingerprint]]) appears in `seenFps` (a
    * single-column `fp` DataFrame — fingerprints of earlier cycles'
    * published rows) is not dropped but RE-ROUTED to `dupSink`, so
    * cycle N never re-emits as content what cycle N-1 published. The
    * engine never silently discards data, so a cross-cycle duplicate
    * becomes a visible, auditable sink row
    * (graft.pipeline.Route.duplicateSink) that the lineage/seal-audit
    * machinery counts as delivered. Only rows already routed to a
    * content sink are screened; metadata/reject rows keep their sinks.
    *
    * One LEFT join on the 16-byte fingerprint key, strategy left to the
    * planner: the seen-set is usually compact (distinct fps of
    * published content — AQE broadcasts it), but after years of cycles
    * it can be arbitrarily large, and a forced broadcast would OOM the
    * driver; at that scale the fingerprint store is bucketed on `fp`
    * so the join co-partitions. `seenFps` is distinct'd here so a
    * duplicated store row can never fan out the probe side.
    */
  def reRouteSeen(routed: DataFrame, seenFps: DataFrame,
      contentSinks: Seq[String], dupSink: String,
      textCol: String = "text", keepFp: Boolean = false): DataFrame = {
    val seen = seenFps.select(col("fp").as(fpColName)).distinct()
      .withColumn("_seen", lit(true))
    val out = routed
      .withColumn(fpColName, TextAnalysis.fingerprint(col(textCol)))
      .join(seen, Seq(fpColName), "left")
      .withColumn("sink",
        when(col("_seen") && col("sink").isin(contentSinks: _*),
          lit(dupSink)).otherwise(col("sink")))
      .drop("_seen")
    if (keepFp) out else out.drop(fpColName)
  }

  /** 16-bit SimHash from the md5 hex digits of each token: bit i of the
    * fingerprint is the majority vote of (hex digit i of md5(token)) & 1
    * over the doc's distinct tokens. Hamming-close simhashes => textual
    * near-dups. Chosen encoding is ANSI-SQL-expressible (position-in-
    * alphabet hex decode) so the oracle can replay it exactly.
    *
    * That vote is bit 4i of the one-pass native
    * [[graft.functions.SimHashBits]] hash (bit 0 of hex digit i), so
    * this is a projection of it: one 61-bit pass, then bits 0, 4, ..., 60
    * gathered into the low 16 bits. Null text hashes to 0.
    */
  def simhash16(text: Column): Column = {
    val wide = graft.functions.SimHashBits.simhashBits(text, 61)
    val gathered = (0 until 16)
      .map(i => shiftleft(shiftright(wide, 4 * i).bitwiseAND(1L), i))
      .reduce(_.bitwiseOR(_))
    coalesce(gathered, lit(0L))
  }

  /** SimHash near-dup PAIRS within Hamming distance `maxHamming`, via
    * band bucketing over the native wide hash
    * ([[graft.functions.SimHashBits]]): the nBits hash splits into
    * `nBands` contiguous slices; by pigeonhole, any pair with hamming <=
    * nBands-1 shares at least one intact band, so candidates form ONLY
    * inside (band, slice) buckets — the same no-all-pairs discipline as
    * MinHash-LSH, with the same `maxBucket` skew cap — and are verified
    * by exact `bit_count(xor)`. Default 48 bits / 4 bands = 12-bit band
    * space (4096 buckets per band), detecting hamming <= 3 exactly.
    */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      nBits: Int = 48, nBands: Int = 4, maxHamming: Int = 3,
      maxBucket: Int = 1000): DataFrame = {
    require(nBits % nBands == 0, "bands must tile the hash")
    require(maxHamming <= nBands - 1,
      s"banding guarantees detection only for hamming <= ${nBands - 1}")
    val w = nBits / nBands
    val hs = df.select(col(idCol).as("id"),
      graft.functions.SimHashBits.simhashBits(col(textCol), nBits).as("sh"))
    val bandStructs = (0 until nBands).map { b =>
      struct(lit(b).as("band"),
        shiftright(col("sh"), b * w).bitwiseAND(lit((1L << w) - 1)).as("sig"))
    }
    val bands = hs
      .select(col("id"), explode(array(bandStructs: _*)).as("bs"))
      .select(col("bs.band"), col("bs.sig").cast("string").as("sig"),
        col("id"))
    // candidate pairs via the SHARED bucket expansion (scalar id arrays,
    // capped — one place owns the pairing + skew-cap semantics), then
    // join the hashes back for the exact verify
    val pairs = lshCandidatePairs(bands, "id", maxBucket)
    pairs
      .join(hs.select(col("id").as("id_a"), col("sh").as("sh_a")), Seq("id_a"))
      .join(hs.select(col("id").as("id_b"), col("sh").as("sh_b")), Seq("id_b"))
      .select(col("id_a"), col("id_b"),
        bit_count(col("sh_a").bitwiseXOR(col("sh_b"))).cast("long")
          .as("hamming"))
      .filter(col("hamming") <= maxHamming)
  }
}
