package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, IntegerType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** BPE as native Catalyst expressions — the one tokenizer behind
  * [[graft.ops.Bpe]], for the demo table and at a learned vocabulary's
  * size (tens of thousands of ranks, where a column program with one
  * step per merge rank is structurally impossible). The ranks live in
  * ONE per-JVM hash map and
  * tokenization is the TEXTBOOK loop (lowest-rank adjacent pair
  * anywhere in the word, leftmost occurrence, repeat to fixpoint) —
  * O(len·merges-applied) hash lookups per word, evaluated inside
  * WholeStageCodegen via a static call (the [[RollingHashMin]] /
  * [[SimHashBits]] shape).
  *
  * The expression serializes only the VOCAB NAME, never the table:
  * [[BpeVocab]] names are self-describing (`layered:<charset>:3`
  * re-generates deterministically on any JVM; `file:<path>` loads a
  * learned "a b"-per-line merges file, resolved through SparkFiles on
  * executors — ship it with --files), so plans stay small and
  * executors never depend on driver-side registry state.
  */
object BpeVocab {

  /** Deterministic LAYERED synthetic vocabulary at real-vocab scale:
    * layer 1 = every (char, char) pair of `charset` (ranks 1..n², in
    * charset-major order), layer 2 = every (layer-1 output, char)
    * (ranks n²+1..n²+n³, same order). Layered by construction — every
    * merge's operands are single characters or outputs of strictly
    * earlier merges — which is the invariant real learned BPE tables
    * satisfy. For charset [a-z0-9] this is 47,952
    * merges — GPT-2's table is ~50k, so the plan/eval cost is honest.
    * (No external data enters the build: a learned vocab FILE would
    * be, so scale testing uses this generated table; deployments with
    * a real file use `file:`.)
    */
  def layered(charset: String, depth: Int): IndexedSeq[(String, String)] = {
    require(depth == 3,
      "generated layered vocabs support depth 3 (bigram + trigram layers)")
    require(charset.nonEmpty && charset.toSet.size == charset.length,
      "charset must be non-empty with distinct characters")
    val cs = charset.map(_.toString).toIndexedSeq
    val l1 = for (a <- cs; b <- cs) yield (a, b)
    val l2 = for (a <- cs; b <- cs; c <- cs) yield (a + b, c)
    l1 ++ l2
  }

  /** Resolve a vocab NAME to its merge list. Pure function of the name
    * (plus, for `file:`, the file's contents) so any JVM — driver or
    * executor — resolves identically with no shipped state.
    */
  def merges(name: String): IndexedSeq[(String, String)] = name match {
    case n if n.startsWith("layered:") =>
      val parts = n.split(":", -1)
      require(parts.length == 3, s"expected layered:<charset>:<depth>: $n")
      layered(parts(1), parts(2).toInt)
    case "demo" => graft.ops.Bpe.merges.toIndexedSeq
    case n if n.startsWith("file:") => loadFile(n.stripPrefix("file:"))
    case other => throw new IllegalArgumentException(
      s"unknown BPE vocab '$other' (layered:<charset>:3 | demo | file:<path>)")
  }

  /** "a b" per line, rank = line order; blank lines and #-comments
    * skipped. Resolved as a direct path first (driver, local mode),
    * then through SparkFiles (executors of a real cluster, with the
    * vocab shipped via --files).
    */
  private def loadFile(path: String): IndexedSeq[(String, String)] = {
    val f0 = new java.io.File(path)
    val f =
      if (f0.isFile) f0
      else new java.io.File(org.apache.spark.SparkFiles.get(f0.getName))
    val src = scala.io.Source.fromFile(f, "UTF-8")
    try src.getLines()
      .map(_.trim).filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { l =>
        val sp = l.split(" ", -1)
        require(sp.length == 2 && sp.forall(_.nonEmpty),
          s"malformed merges line '$l' (want 'a b')")
        (sp(0), sp(1))
      }.toIndexedSeq
    finally src.close()
  }

  // one ranks map per (JVM, vocab name); merge operands never contain
  // spaces (loadFile enforces it, generated charsets are space-free),
  // so "a b" is an unambiguous key.
  //
  // IMMUTABILITY CONTRACT for `file:` vocabs: the cache is keyed by the
  // NAME string and lives for the JVM — a merges file must never change
  // content under a path a long-lived executor has already resolved
  // (a changed file would keep serving the stale table silently).
  // Treat vocab files as content-addressed: a new vocabulary gets a NEW
  // path. Additionally, the SparkFiles fallback resolves by BASENAME
  // (that is how --files ships them), so two different `file:` paths
  // sharing a basename within one application would resolve to the same
  // shipped file on executors — give distinct vocabs distinct basenames.
  // Both rules are what every --files-shipped dictionary already obeys;
  // they are stated here because violating them fails silently, not
  // loudly.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[
      String, java.util.HashMap[String, Integer]]()

  def ranks(name: String): java.util.HashMap[String, Integer] =
    cache.computeIfAbsent(name, n => {
      val m = new java.util.HashMap[String, Integer]()
      merges(n).zipWithIndex.foreach { case ((a, b), i) =>
        require(!a.contains(' ') && !b.contains(' '),
          s"merge operands must not contain spaces: ('$a','$b')")
        // a real learned table never repeats a pair; keep the FIRST
        // (lowest) rank if a hand-written one does
        m.putIfAbsent(a + " " + b, Int.box(i + 1))
      }
      m
    })
}

object BpeNative {

  /** TEXTBOOK BPE over one (normalized, space-free) word: repeatedly
    * merge the leftmost occurrence of the lowest-rank adjacent token
    * pair present anywhere, until no table pair applies.
    *
    * Long words go through a heap over a doubly-linked token list —
    * O(len·log len) — because the naive rescan-per-merge loop is
    * O(len²) and takes tens of seconds on the megabyte alphanumeric
    * runs (base64 blobs, minified code) a web-scale corpus WILL
    * contain; short words keep the scan, whose constants are smaller
    * (see [[ScanMax]]). Heap equivalence to the rule: node ids are token
    * start offsets, so heap order (rank, leftId) IS
    * (strictly-lowest rank, leftmost occurrence); every live pair
    * always has a heap entry (all initial pairs are pushed, and each
    * merge pushes its two new neighbor pairs); stale entries are
    * detected on pop by re-checking the captured pair strings —
    * tokens only ever GROW, so a changed token can never revert to
    * match a stale entry.
    */
  def tokenize(word: String,
      ranks: java.util.HashMap[String, Integer]): Array[String] =
    // hybrid: the heap's allocations only pay for themselves once the
    // quadratic scan's len^2 bites; typical corpus words are short and
    // the scan's constants are far smaller. Both paths implement the
    // identical textbook rule (property-tested against each other and
    // the reference across the threshold).
    if (word.length <= ScanMax) tokenizeScan(word, ranks)
    else tokenizeHeap(word, ranks)

  private[graft] val ScanMax = 48

  /** The naive rescan-per-merge loop: O(len^2) worst case, smallest
    * constants — the short-word path.
    */
  private[graft] def tokenizeScan(word: String,
      ranks: java.util.HashMap[String, Integer]): Array[String] = {
    if (word.isEmpty) return Array.empty
    val toks = new java.util.ArrayList[String](word.length)
    var c = 0
    while (c < word.length) { toks.add(word.substring(c, c + 1)); c += 1 }
    var done = toks.size < 2
    while (!done) {
      var bestRank = Int.MaxValue
      var bestIdx = -1
      var i = 0
      while (i < toks.size - 1) {
        val r = ranks.get(toks.get(i) + " " + toks.get(i + 1))
        if (r != null && r < bestRank) { bestRank = r; bestIdx = i }
        i += 1
      }
      if (bestIdx < 0) done = true
      else {
        toks.set(bestIdx, toks.get(bestIdx) + toks.get(bestIdx + 1))
        toks.remove(bestIdx + 1)
        done = toks.size < 2
      }
    }
    toks.toArray(new Array[String](toks.size))
  }

  private[graft] def tokenizeHeap(word: String,
      ranks: java.util.HashMap[String, Integer]): Array[String] = {
    val n = word.length
    if (n == 0) return Array.empty
    val tok = new Array[String](n) // null = node absorbed (dead)
    val next = new Array[Int](n) // n = end sentinel
    val prev = new Array[Int](n) // -1 = start sentinel
    var i = 0
    while (i < n) {
      tok(i) = word.substring(i, i + 1)
      next(i) = i + 1; prev(i) = i - 1
      i += 1
    }
    // candidate = {rank, left node id, the two token strings at push
    // time (for lazy invalidation)}
    final case class Cand(rank: Int, left: Int, a: String, b: String)
    val heap = new java.util.PriorityQueue[Cand](math.max(16, n),
      (x: Cand, y: Cand) => {
        val c = Integer.compare(x.rank, y.rank)
        if (c != 0) c else Integer.compare(x.left, y.left)
      })
    def push(l: Int): Unit = if (l >= 0 && next(l) < n) {
      val r = ranks.get(tok(l) + " " + tok(next(l)))
      if (r != null) heap.add(Cand(r, l, tok(l), tok(next(l))))
    }
    i = 0
    while (i < n - 1) { push(i); i += 1 }
    var live = n
    while (!heap.isEmpty && live > 1) {
      val c = heap.poll()
      val l = c.left
      // still valid? the left node must be alive and hold the same
      // token, and its CURRENT right neighbor must hold the other one
      // (the neighbor id may have changed; string equality at the same
      // left position is the same pair at the same place)
      if (tok(l) != null && tok(l) == c.a && next(l) < n &&
          tok(next(l)) == c.b) {
        val r = next(l)
        tok(l) = tok(l) + tok(r)
        tok(r) = null
        next(l) = next(r)
        if (next(r) < n) prev(next(r)) = l
        live -= 1
        push(prev(l)); push(l)
      }
    }
    val out = new Array[String](live)
    var k = 0; i = 0
    while (i < n) { if (tok(i) != null) { out(k) = tok(i); k += 1 }; i += 1 }
    out
  }

  /** Static entry points shared by interpreted eval and generated code. */
  def tokens(word: UTF8String, vocab: String): ArrayData =
    new GenericArrayData(
      tokenize(word.toString, BpeVocab.ranks(vocab))
        .map(UTF8String.fromString): Array[Any])

  def tokenCount(word: UTF8String, vocab: String): Int =
    tokenize(word.toString, BpeVocab.ranks(vocab)).length

  private def vocabLit(vocab: String): String =
    "\"" + vocab.replace("\\", "\\\\").replace("\"", "\\\"") + "\""

  private[functions] def genCall(method: String, c: String,
      vocab: String): String =
    s"graft.functions.BpeNative.$method($c, ${vocabLit(vocab)})"
}

/** BPE token count of one word under the named vocab. */
case class BpeTokenCount(child: Expression, vocab: String)
    extends UnaryExpression {

  override def dataType: DataType = IntegerType
  override def prettyName: String = "bpe_token_count"

  override protected def nullSafeEval(input: Any): Any =
    BpeNative.tokenCount(input.asInstanceOf[UTF8String], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => BpeNative.genCall("tokenCount", c, vocab))

  override protected def withNewChildInternal(newChild: Expression): BpeTokenCount =
    copy(child = newChild)
}

/** BPE token array of one word under the named vocab (for chunking /
  * window operators that need the stream, not just its length).
  */
case class BpeTokens(child: Expression, vocab: String)
    extends UnaryExpression {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)
  override def prettyName: String = "bpe_tokens"

  override protected def nullSafeEval(input: Any): Any =
    BpeNative.tokens(input.asInstanceOf[UTF8String], vocab)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => BpeNative.genCall("tokens", c, vocab))

  override protected def withNewChildInternal(newChild: Expression): BpeTokens =
    copy(child = newChild)
}

object BpeExprs {
  import org.apache.spark.sql.graftshim.{columnOf, expressionOf}

  def bpeTokenCount(word: Column, vocab: String): Column =
    columnOf(BpeTokenCount(expressionOf(word), vocab))

  def bpeTokens(word: Column, vocab: String): Column =
    columnOf(BpeTokens(expressionOf(word), vocab))
}
