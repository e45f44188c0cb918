package graft.ops

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Deterministic merges-table BPE tokenization — the unit a training
  * pipeline actually budgets by (the whitespace count of
  * [[TextAnalysis.tokenCount]] under-states token inflation; the
  * regex-boundary "BPE-ish" variant over-states it).
  *
  * Semantics are textbook BPE: repeatedly merge the LOWEST-RANK pair
  * present in the word (leftmost occurrence first) until no table pair
  * applies — so a self-pair (o, o) on "oooo" yields [oo, oo], never the
  * overlapping [o, oo, o]. The one tokenizer is the native codegen'd
  * expression pair [[graft.functions.BpeTokenCount]] /
  * [[graft.functions.BpeTokens]]: its ranks live in a hash map, so the
  * same expression serves this object's small DEMO table ([[merges]],
  * vocab name `demo`) and the real-vocab table every query uses
  * ([[realVocab]], a 47,952-merge generated layered table — GPT-2
  * scale). It is cheap enough to evaluate per word OCCURRENCE in a
  * narrow map when the consumer needs the stream in document order
  * (d14's BPE-window chunking).
  *
  * This object holds the tables, the word normalization shared with
  * the oracle, the DuckDB textbook replay the d22 oracle runs, and the
  * driver-side textbook references ([[tokenizeReference]]). OpsSpec
  * proves native == textbook on randomized words for both tables, and
  * checks that the demo table is LAYERED: each pair's elements are
  * single characters or outputs of strictly-earlier merges, the shape
  * a learned table has (a pair over a token can only be learned after
  * the token exists).
  *
  * Scale shape: tokenize DISTINCT words once and join back (what d22
  * does) — corpus word frequency follows Zipf, so the distinct-word
  * table is orders of magnitude smaller than the token stream.
  */
object Bpe {

  /** The demo table: layered merge ranks (rank = position + 1). Each
    * element is a single character or the output of a strictly-earlier
    * merge. Includes a self-pair (o, o) to keep the overlap semantics
    * load-bearing and digit merges so alphanumeric words exercise the
    * table.
    */
  val merges: Seq[(String, String)] = Seq(
    "t" -> "h", // 1: th
    "i" -> "n", // 2: in
    "a" -> "n", // 3: an
    "o" -> "n", // 4: on
    "e" -> "r", // 5: er
    "r" -> "e", // 6: re
    "o" -> "r", // 7: or
    "s" -> "t", // 8: st
    "e" -> "n", // 9: en
    "a" -> "t", // 10: at
    "o" -> "u", // 11: ou
    "e" -> "s", // 12: es
    "a" -> "l", // 13: al
    "o" -> "o", // 14: oo (self-pair: overlap semantics)
    "l" -> "l", // 15: ll
    "th" -> "e", // 16: the
    "in" -> "g", // 17: ing
    "an" -> "d", // 18: and
    "er" -> "s", // 19: ers
    "at" -> "a", // 20: ata
    "0" -> "0", // 21: 00
    "1" -> "2") // 22: 12

  /** The REAL-vocab-scale table every production query uses: all
    * (char, char) then all (bigram, char) merges of [a-z0-9],
    * charset-major — 47,952 ranks ([[graft.functions.BpeVocab
    * .layered]]). Self-describing name: any JVM re-generates it.
    */
  val realVocabCharset = "abcdefghijklmnopqrstuvwxyz0123456789"
  val realVocab = s"layered:$realVocabCharset:3"

  /** DuckDB CTEs generating EXACTLY `BpeVocab.layered(charset, 3)` as
    * `merges(rank, a, b)` — the oracle derives the table independently
    * from the same (charset, layering) definition instead of
    * transcribing 48k VALUES rows. Rank parity with the Scala
    * generator: layer 1 rank = (x-1)·n + y, layer 2 rank =
    * n² + ((x-1)·n + (y-1))·n + z, 1-based charset positions, the
    * for-comprehension's major order.
    */
  def layeredMergesSqlCtes(charset: String = realVocabCharset): String = {
    val n = charset.length
    s"""cs AS (SELECT i, substr('$charset', i, 1) AS c
            FROM (SELECT unnest(generate_series(1, $n)) AS i)),
       l1 AS (SELECT (x.i - 1) * $n + y.i AS rank, x.c AS a, y.c AS b
              FROM cs x CROSS JOIN cs y),
       l2 AS (SELECT $n * $n + ((x.i - 1) * $n + (y.i - 1)) * $n + z.i
                       AS rank,
                     x.c || y.c AS a, z.c AS b
              FROM cs x CROSS JOIN cs y CROSS JOIN cs z),
       merges AS (SELECT * FROM l1 UNION ALL SELECT * FROM l2)"""
  }

  /** DuckDB CTEs replaying TEXTBOOK BPE over a `<wordsCte>(word, ...)`
    * table against an already-defined `merges(rank, a, b)` CTE,
    * ending in `final(w, st)` where `st` is the tokenized state
    * ` t1 t2 ... tn ` (token count = spaces - 1). Needs WITH RECURSIVE.
    *
    * The join against 48k merges is pre-restricted per word through a
    * HASH join on the word's own 2/3-char substrings (every BPE token
    * is a contiguous substring of its word, and this table's outputs
    * are only 2 or 3 chars long) — without it the recursive term would
    * theta-join every word state against the full table each step.
    */
  def textbookReplayCtes(wordsCte: String = "words"): String =
    s"""bi AS (SELECT word, substr(word, i, 2) AS s
            FROM (SELECT word,
                    unnest(generate_series(1, length(word) - 1)) AS i
                  FROM $wordsCte)),
       tri AS (SELECT word, substr(word, i, 3) AS s
               FROM (SELECT word,
                       unnest(generate_series(1, length(word) - 2)) AS i
                     FROM $wordsCte)),
       subs AS (SELECT DISTINCT word, s
                FROM (SELECT * FROM bi UNION ALL SELECT * FROM tri)),
       mw AS (SELECT subs.word, m.rank, m.a, m.b
              FROM subs JOIN merges m ON m.a || m.b = subs.s),
       r(w, st, step) AS (
         SELECT word, ' ' || regexp_replace(word, '(.)', '\\1 ', 'g'), 0
         FROM $wordsCte
         UNION ALL
         SELECT w,
           substr(st, 1, pos - 1) || ' ' || a || b || ' ' ||
             substr(st, pos + length(a) + length(b) + 3),
           step + 1
         FROM (
           SELECT r.w, r.st, r.step, mw.a, mw.b, mw.rank,
                  position((' ' || mw.a || ' ' || mw.b || ' ') IN r.st)
                    AS pos
           FROM r JOIN mw ON mw.word = r.w
             AND position((' ' || mw.a || ' ' || mw.b || ' ') IN r.st) > 0
           QUALIFY row_number()
             OVER (PARTITION BY r.w, r.step ORDER BY mw.rank) = 1
         )
       ),
       final AS (SELECT w, st FROM (
         SELECT w, st,
                row_number() OVER (PARTITION BY w ORDER BY step DESC) AS rn
         FROM r) WHERE rn = 1)"""

  /** Normalization shared with the oracle: lowercase, non-alphanumeric
    * to space, whitespace-split, empties dropped.
    */
  def normalizeWords(text: Column): Column =
    filter(
      split(regexp_replace(lower(trim(text)), "[^a-z0-9 ]", " "), "\\s+"),
      w => length(w) > 0)

  /** Textbook reference over an ARBITRARY ranks map (for real-vocab
    * scale, where the demo overload's merges-list scan per step would
    * be O(48k·len) per merge): per step, enumerate adjacent pairs in
    * position order, keep each pair's rank, merge the first minimum —
    * lowest rank anywhere, leftmost occurrence.
    */
  def tokenizeReference(word: String,
      ranks: Map[(String, String), Int]): Seq[String] = {
    var toks = word.map(_.toString).toVector
    var done = false
    while (!done) {
      val hits = (0 until math.max(toks.size - 1, 0)).flatMap { i =>
        ranks.get((toks(i), toks(i + 1))).map(r => (r, i))
      }
      if (hits.isEmpty) done = true
      else {
        val (_, i) = hits.minBy(_._1)
        toks = (toks.take(i) :+ (toks(i) + toks(i + 1))) ++ toks.drop(i + 2)
      }
    }
    toks
  }

  /** Driver-side TEXTBOOK reference (lowest-rank pair present, its
    * leftmost occurrence, one merge per step, until fixpoint) over the
    * demo merges list — the equivalence witness for OpsSpec's property
    * tests. Never used in a query plan.
    */
  def tokenizeReference(word: String): Seq[String] = {
    var toks = word.map(_.toString).toVector
    var done = false
    while (!done) {
      val hits = merges.zipWithIndex.flatMap { case ((a, b), r) =>
        (0 until math.max(toks.size - 1, 0))
          .find(i => toks(i) == a && toks(i + 1) == b)
          .map(i => (r, i))
      }
      if (hits.isEmpty) done = true
      else {
        val (r, i) = hits.minBy(_._1)
        val (a, b) = merges(r)
        toks = (toks.take(i) :+ (a + b)) ++ toks.drop(i + 2)
      }
    }
    toks
  }
}
