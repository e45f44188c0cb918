package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline: token counting,
  * quality scoring, language ID, document fingerprinting. All pure
  * Catalyst column expressions (codegen'd, no UDFs) so they pipeline
  * inside WholeStageCodegen over a 100 TB scan — each is a narrow map,
  * no shuffle.
  */
object TextAnalysis {

  /** Whitespace-delimited token count (the "BPE-ish" variant below adds
    * punctuation splitting). split on `\s+` matches the common
    * tokenizer contract: no empty trailing tokens.
    */
  def tokenCount(text: Column): Column =
    when(length(trim(text)) === 0, lit(0))
      .otherwise(size(split(trim(text), "\\s+")))

  /** Stopwords used by quality scoring and language ID. Deterministic,
    * tiny — inlined as literals so the optimizer constant-folds.
    */
  val enStopwords: Seq[String] = Seq("the", "a", "of", "and")

  /** Quality-score feature columns (length / punctuation / stopword
    * ratios). Returns the input plus:
    * n_tokens, n_punct, stopword_hits, mean_token_len (x1000, integer —
    * exact, no float drift), quality_ok (simple keep/drop heuristic).
    */
  def qualityFeatures(df: DataFrame, textCol: String = "text"): DataFrame = {
    val t = col(textCol)
    val toks = split(trim(t), "\\s+")
    df
      .withColumn("n_tokens", tokenCount(t))
      .withColumn("n_punct",
        length(t) - length(regexp_replace(t, "[\\p{Punct}]", "")))
      .withColumn("stopword_hits",
        size(filter(toks, x => x.isin(enStopwords.map(lit): _*))))
      .withColumn("mean_token_len_x1000",
        // floor (not cast) so the rounding rule is engine-independent:
        // DuckDB CAST(double AS BIGINT) rounds, Spark cast truncates.
        when(col("n_tokens") > 0,
          floor((length(trim(t)) - (col("n_tokens") - 1)) * 1000
            / col("n_tokens")).cast("long"))
          .otherwise(lit(0L)))
      .withColumn("quality_ok",
        col("n_tokens") >= 5 && col("n_tokens") <= 100000 &&
          col("stopword_hits") > 0)
  }

  /** Rolling-window document fingerprint (Rabin-Karp / winnowing-lite):
    * hash every `w`-char window of the normalized text and keep the
    * minimum — one fingerprint per document that is robust to small
    * edits anywhere except the minimizing window (near-dup docs very
    * likely share it; combine k of these at different `w` for a sketch).
    * md5-prefix stands in for the rolling polynomial so the identical
    * computation is expressible in ANSI SQL for the oracle; a native
    * implementation would swap in a true O(1)-slide polynomial hash.
    */
  def rollingFingerprint(text: Column, w: Int = 16): Column =
    // the normalized text is bound ONCE, as the variable of a
    // one-element outer lambda: inside the per-window lambda it is a
    // lambda variable, not a lower(trim(text)) re-evaluated per window
    element_at(transform(array(lower(trim(text))), t => {
      val nWindows = greatest(length(t) - (w - 1), lit(1))
      array_min(transform(sequence(lit(1), nWindows),
        i => substring(md5(t.substr(i, lit(w))), 1, 8)))
    }), 1)

  /** Language-ID by marker-token voting: a deterministic n-gram-style
    * heuristic — per language, count hits of characteristic tokens; the
    * argmax wins, ties broken by language code, zero hits -> "und".
    * (A real pipeline would use char-trigram profiles; the mechanism —
    * per-row scoring over a broadcast-foldable literal profile — is
    * identical and this variant is oracle-checkable in ANSI SQL.)
    */
  val langMarkers: Map[String, Seq[String]] = Map(
    "en" -> Seq("the", "and", "of"),
    "de" -> Seq("der", "und", "das"),
    "fr" -> Seq("le", "et", "la"),
    "es" -> Seq("el", "y", "los"),
    "zh" -> Seq("de5", "shi4", "le5"))

  def langIdColumns(df: DataFrame, textCol: String = "text"): DataFrame = {
    // Tokenize ONCE into a materialized column, then score each
    // language by filtering the array: a per-marker column that
    // re-runs `split(text)` costs 15 regex splits of the full text per
    // row with 5 langs x 3 markers — measured ~4x on d04. A score
    // counts a marker's occurrences as a whitespace-bounded token:
    // split WITHOUT trim; a leading empty token never equals a marker.
    // scale-adaptive parallelization of the scoring chain (no-op when
    // the input already has >= cores partitions — Dedup.parallelized)
    val withToks = Dedup.parallelized(df)
      .withColumn("_lid_toks", split(col(textCol), "\\s+"))
    val scored = langMarkers.keys.toSeq.sorted.foldLeft(withToks) { (d, l) =>
      d.withColumn(s"score_$l",
        langMarkers(l).map(w =>
          size(filter(col("_lid_toks"), t => t === lit(w)))).reduce(_ + _))
    }
    val langs = langMarkers.keys.toSeq.sorted
    val best = langs.map(l => struct(col(s"score_$l").as("s"),
      lit(l).as("l")))
    // argmax with deterministic tie-break: highest score, then lowest code
    val winner = langs.foldLeft(
      struct(lit(-1).as("s"), lit("und").as("l"))) { (acc, l) =>
      when(col(s"score_$l") > acc.getField("s"),
        struct(col(s"score_$l").as("s"), lit(l).as("l"))).otherwise(acc)
    }
    scored.withColumn("lang_pred",
      when(winner.getField("s") <= 0, lit("und"))
        .otherwise(winner.getField("l")))
      .drop("_lid_toks")
  }

  /** Canonical document fingerprint: md5 of the whitespace-normalized,
    * lowercased text. Identical normalization must be applied by any
    * system comparing fingerprints (this is the cheap exact-dup key).
    */
  def fingerprint(text: Column): Column =
    md5(lower(regexp_replace(trim(text), "\\s+", " ")))

  /** Gopher/C4-style repetition signals — the standard curation filters
    * for boilerplate and degenerate generation loops. Per document:
    * duplicate-token fraction (1 - distinct/total, x1000 floored — exact
    * integers, no float drift) and the count of the most frequent token
    * bigram. One explode + two hash aggregates on the bigram side (the
    * per-doc stats stay narrow); at 100 TB the bigram aggregate is
    * map-side-combinable since bigram cardinality per doc is bounded by
    * doc length.
    */
  def repetitionFeatures(df: DataFrame, idCol: String = "doc_id",
      textCol: String = "text"): DataFrame = {
    val toks = split(trim(col(textCol)), "\\s+")
    val base = df.select(col(idCol),
      tokenCount(col(textCol)).cast("long").as("n_tokens"),
      // split("") yields [""], so guard like tokenCount does — an empty
      // doc has 0 distinct tokens, not 1
      when(length(trim(col(textCol))) === 0, lit(0L))
        .otherwise(size(array_distinct(toks)).cast("long"))
        .as("n_distinct"),
      toks.as("_toks"))
    // guard size >= 2 BEFORE sequence(1, size-1): Spark's sequence
    // generates a DESCENDING range when start > stop, which would
    // fabricate a bogus bigram for 1-token docs
    val bigrams = base.filter(size(col("_toks")) >= 2)
      .select(col(idCol), explode(transform(
        sequence(lit(1), size(col("_toks")) - 1),
        i => concat_ws(" ", element_at(col("_toks"), i),
          element_at(col("_toks"), i + 1)))).as("bg"))
    val top = bigrams.groupBy(col(idCol), col("bg"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col(idCol)).agg(max(col("n")).as("top_bigram_n"))
    base.drop("_toks")
      .join(top, Seq(idCol), "left")
      .withColumn("top_bigram_n", coalesce(col("top_bigram_n"), lit(0L)))
      .withColumn("dup_frac_x1000",
        when(col("n_tokens") > 0,
          floor((col("n_tokens") - col("n_distinct")) * lit(1000)
            / col("n_tokens")).cast("long"))
          .otherwise(lit(0L)))
      // heuristic keep/drop in the Gopher spirit: mostly-unique tokens
      // and no bigram dominating the document
      .withColumn("repetition_ok",
        col("dup_frac_x1000") <= 600 && col("top_bigram_n") <= 8)
  }

  /** Fixed-size token-window chunking — the document -> training-sample
    * splitter (window `w` tokens, stride `s`): chunk k covers tokens
    * [1 + k*s, 1 + k*s + w). Chunks start while start <= n_tokens, so
    * every token is covered and the tail chunk may be short. Output is
    * one row per chunk with an md5 prefix of the chunk text (the
    * join-key shape for downstream sampling) — a narrow explode, no
    * shuffle, and the per-row payload stays small regardless of `w`.
    */
  def chunkPlan(df: DataFrame, window: Int, stride: Int,
      idCol: String = "doc_id", textCol: String = "text",
      tokensExpr: Option[Column] = None): DataFrame = {
    require(window > 0 && stride > 0, "window and stride must be positive")
    // default unit = whitespace tokens; callers chunking by a different
    // unit (d14: the BPE token stream) pass their own array expression —
    // the plan stays the same narrow explode either way
    val base = tokensExpr match {
      // materialize the caller's token array ONCE, then size the alias
      // in a second projection: a single select with both te.as("_toks")
      // and size(te) evaluates the expression twice whenever codegen
      // subexpression elimination doesn't apply (interpreted fallback,
      // codegen size limits) — for d14's BpeTokens that is a full BPE
      // pass per row duplicated. CollapseProject will not re-inline a
      // non-cheap expression referenced twice, so the split is stable.
      case Some(te) => df.select(col(idCol), te.as("_toks"))
        .select(col(idCol), col("_toks"),
          size(col("_toks")).cast("long").as("_n"))
      case None => df.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("_toks"),
        tokenCount(col(textCol)).as("_n"))
    }
    base
      .filter(col("_n") > 0)
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(1), col("_n"), lit(stride))).as("start"))
      .select(col(idCol),
        floor((col("start") - 1) / lit(stride)).cast("long").as("chunk_idx"),
        col("start").cast("long").as("start"),
        slice(col("_toks"), col("start"), lit(window)).as("_chunk"))
      .select(col(idCol), col("chunk_idx"), col("start"),
        size(col("_chunk")).cast("long").as("n_chunk_tokens"),
        substring(md5(array_join(col("_chunk"), " ")), 1, 8).as("chunk_h8"))
  }

  /** PII pattern census: counts of email / phone / IPv4 shapes per row.
    * Patterns are deliberately dialect-portable (no lookaround, no
    * backrefs) so Java regex (Spark) and RE2 (DuckDB oracle) agree.
    * COUNTS ONLY — the text byte-equality invariant holds; an actual
    * redaction pass belongs to a sink-side writer, driven by these
    * columns.
    */
  val piiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}",
    "phone" -> "\\b\\d{3}-\\d{3}-\\d{4}\\b",
    "ipv4" -> "\\b(\\d{1,3}\\.){3}\\d{1,3}\\b")

  def piiCounts(df: DataFrame, textCol: String = "text"): DataFrame =
    piiPatterns.foldLeft(df) { case (acc, (k, p)) =>
      acc.withColumn(s"n_$k",
        size(regexp_extract_all(col(textCol), lit(p), lit(0))).cast("long"))
    }.withColumn("pii_free",
      piiPatterns.map { case (k, _) => col(s"n_$k") === 0L }.reduce(_ && _))

  /** Deterministic hash-gate for stratified sampling: keep a row iff
    * the first hex digit of md5(salt || key) — a uniform 0..15 value —
    * falls below `rate16` (so rate16=4 keeps ~4/16 = 25%). Pure narrow
    * codegen'd expression: sampling decisions are reproducible across
    * engines, runs, and partitionings (the property a training-data
    * sample MUST have — `rand()` sampling is neither replayable nor
    * oracle-checkable), and per-stratum rates are just a column
    * expression for `rate16`.
    */
  def hashSampleFlag(key: Column, salt: String, rate16: Column): Column = {
    val digit = substring(md5(concat(lit(salt), key.cast("string"))), 1, 1)
    // conv() parses the hex digit AND propagates NULL for a NULL key, so
    // null-keyed rows are DROPPED (null < rate16 is null) — matching the
    // SQL-oracle strpos semantics; a hand-rolled when-chain here would
    // silently keep every null-keyed row at 16/16
    conv(digit, 16, 10).cast("int") < rate16
  }

  /** N-gram LM log-probability scoring with stupid backoff — the
    * trained-signal quality filter (KenLM-shaped) the heuristic family
    * (qualityFeatures / repetitionFeatures) lacks: score each token by
    * its BIGRAM (prev, tok) when the LM table knows it, else by its
    * UNIGRAM plus a backoff penalty, else by an OOV floor; the first
    * token has no context and scores unigram-or-OOV directly (no
    * penalty — nothing higher-order was attempted). Log-probs are
    * integer fixed-point (x1e6), like the kmeans rounded means, so
    * Spark and the DuckDB oracle agree bit-for-bit with no float-drift
    * surface.
    *
    * Scale shape: the LM table is small by definition (a trained table
    * ships as an artifact) — it rides TWO BROADCAST hash joins (bigram
    * key, unigram key) against the exploded token stream, so the corpus
    * is never shuffled on its own size; the only Exchange is the final
    * per-doc aggregate, which is map-side combinable. Output per doc:
    * n_scored, sum_logp_x1e6, avg_logp_x1e6 (floor), lm_ok.
    *
    * `lm` columns: gram (a unigram "w" or a bigram "a b"), logp_x1e6.
    */
  def lmScore(df: DataFrame, lm: DataFrame,
      idCol: String = "doc_id", textCol: String = "text",
      backoffPenaltyX1e6: Long = -2500000L,
      oovX1e6: Long = -18000000L,
      keepThresholdX1e6: Long = -12000000L): DataFrame = {
    import org.apache.spark.sql.functions.broadcast
    val base = df.select(col(idCol),
        split(trim(col(textCol)), "\\s+").as("_toks"),
        tokenCount(col(textCol)).as("_n"))
      .filter(col("_n") > 0)
    val grams = base
      .select(col(idCol), col("_toks"),
        explode(sequence(lit(1), col("_n"))).as("_i"))
      .select(col(idCol), col("_i"),
        element_at(col("_toks"), col("_i")).as("_tok"),
        when(col("_i") > 1, concat_ws(" ",
          element_at(col("_toks"), col("_i") - 1),
          element_at(col("_toks"), col("_i")))).as("_bg"))
    val bi = broadcast(lm.select(col("gram").as("_bgk"),
      col("logp_x1e6").as("_bglp")))
    val uni = broadcast(lm.select(col("gram").as("_ugk"),
      col("logp_x1e6").as("_uglp")))
    grams
      .join(bi, col("_bg") === col("_bgk"), "left")
      .join(uni, col("_tok") === col("_ugk"), "left")
      .select(col(idCol),
        when(col("_i") === 1,
          coalesce(col("_uglp"), lit(oovX1e6)))
          .otherwise(coalesce(col("_bglp"),
            col("_uglp") + lit(backoffPenaltyX1e6),
            lit(oovX1e6))).as("_lp"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_scored"),
        sum(col("_lp")).as("sum_logp_x1e6"))
      .withColumn("avg_logp_x1e6",
        floor(col("sum_logp_x1e6") / col("n_scored")).cast("long"))
      .withColumn("lm_ok", col("avg_logp_x1e6") >= keepThresholdX1e6)
  }
}
