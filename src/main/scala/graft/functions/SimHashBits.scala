package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, LongType}
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: `nBits`-bit SimHash of a document's
  * distinct whitespace tokens. This computes all bit votes in ONE pass
  * per token, O(tokens * nBits) with no per-bit re-tokenization, and
  * participates in WholeStageCodegen via a static call (same shape as
  * [[RollingHashMin]]). The 16-bit [[graft.ops.Dedup.simhash16]] is a
  * projection of it (bits 0, 4, ..., 60).
  *
  * Bit layout is defined hex-digit-wise so an ANSI-SQL oracle can
  * replay it exactly: bit j of a token's hash := bit (j % 4) of the
  * value of hex character (j / 4) of md5(token); the document bit j is
  * the majority vote over DISTINCT tokens of lower(trim(text)) split on
  * whitespace. nBits <= 63 keeps the result a non-negative Long (and
  * XOR/bit_count-safe in any engine).
  */
case class SimHashBits(child: Expression, nBits: Int)
    extends UnaryExpression {

  require(nBits > 0 && nBits <= 63, s"nBits must be 1..63, got $nBits")

  override def dataType: DataType = LongType
  override def prettyName: String = "simhash_bits"

  override protected def nullSafeEval(input: Any): Any =
    SimHashBits.compute(input.asInstanceOf[UTF8String], nBits)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      c => s"graft.functions.SimHashBits.compute($c, $nBits)")

  override protected def withNewChildInternal(newChild: Expression): SimHashBits =
    copy(child = newChild)
}

object SimHashBits {

  // per-row allocation hygiene for the hot path: the whitespace pattern
  // compiles once per JVM; the digest is thread-local (MessageDigest is
  // not thread-safe; digest() leaves it reset for reuse)
  private val ws = java.util.regex.Pattern.compile("\\s+")
  private val mdLocal =
    java.lang.ThreadLocal.withInitial[java.security.MessageDigest](() =>
      java.security.MessageDigest.getInstance("MD5"))

  /** Strip ASCII SPACES only — SQL `trim` semantics (Java String.trim
    * strips every char <= U+0020, which would diverge from the oracle on
    * tab/newline-adjacent text).
    */
  private def trimSpaces(s: String): String = {
    var a = 0
    var b = s.length
    while (a < b && s.charAt(a) == ' ') a += 1
    while (b > a && s.charAt(b - 1) == ' ') b -= 1
    s.substring(a, b)
  }

  /** Static entry point shared by interpreted eval and generated code.
    * Tokenization is EXACTLY `regexp_split_to_array(lower(trim(text)),
    * '\s+')`: space-only trim, a leading non-space whitespace char
    * yields a leading EMPTY token, and empty text hashes the single
    * empty token (md5("")) — so the SQL oracle replays this
    * bit-for-bit on any input, not just the fixtures. (Lowercasing is
    * Locale.ROOT; identical to SQL `lower` for ASCII corpora.)
    */
  def compute(s: UTF8String, nBits: Int): Long = {
    val text = trimSpaces(s.toString.toLowerCase(java.util.Locale.ROOT))
    val toks = ws.split(text, -1)
    val seen = new java.util.HashSet[String]()
    val votes = new Array[Int](nBits)
    val md = mdLocal.get()
    var t = 0
    while (t < toks.length) {
      val tok = toks(t)
      if (seen.add(tok)) {
        val d = md.digest(tok.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        var j = 0
        while (j < nBits) {
          val k = j >> 2 // hex-char index
          val byte = d(k >> 1)
          val nib = if ((k & 1) == 0) (byte >> 4) & 0xf else byte & 0xf
          votes(j) += (if (((nib >> (j & 3)) & 1) == 1) 1 else -1)
          j += 1
        }
      }
      t += 1
    }
    var h = 0L
    var j = 0
    while (j < nBits) { if (votes(j) > 0) h |= 1L << j; j += 1 }
    h
  }

  /** Column-API entry point. */
  def simhashBits(c: Column, nBits: Int = 48): Column =
    org.apache.spark.sql.graftshim.columnOf(
      SimHashBits(org.apache.spark.sql.graftshim.expressionOf(c), nBits))
}
