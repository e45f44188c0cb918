package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class SimHashBitsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.pipeline.SparkTestSession.spark
  import spark.implicits._

  /** Independent reference: per-bit recompute from the md5 HEX STRING
    * (the exact definition the SQL oracle uses), no byte-twiddling.
    * Tokenization mirrors DuckDB verbatim (verified empirically):
    * space-only trim, `\s+` split KEEPING empty boundary tokens,
    * '' -> [''].
    */
  private def tokenHexes(s: String): Seq[String] = {
    def trimSp(x: String) = x.dropWhile(_ == ' ')
      .reverse.dropWhile(_ == ' ').reverse
    val toks = trimSp(s.toLowerCase(java.util.Locale.ROOT))
      .split("\\s+", -1).distinct
    toks.toSeq.map { t =>
      java.security.MessageDigest.getInstance("MD5")
        .digest(t.getBytes("UTF-8")).map("%02x".format(_)).mkString
    }
  }

  /** Majority vote per output bit; `bitOf(hex, j)` is a token's bit j. */
  private def votes(s: String, nBits: Int)(bitOf: (String, Int) => Int): Long = {
    val hexes = tokenHexes(s)
    (0 until nBits).foldLeft(0L) { (acc, j) =>
      val v = hexes.map(h => if (bitOf(h, j) == 1) 1 else -1).sum
      if (v > 0) acc | (1L << j) else acc
    }
  }

  private def nibble(h: String, k: Int): Int =
    Integer.parseInt(h(k).toString, 16)

  private def reference(s: String, nBits: Int): Long =
    votes(s, nBits)((h, j) => (nibble(h, j / 4) >> (j % 4)) & 1)

  /** d09's definition: bit i = parity of hex digit i of md5(token). */
  private def hexParity16(s: String): Long =
    votes(s, 16)((h, i) => nibble(h, i) % 2)

  test("one-pass native compute == per-bit hex-string reference (the SQL definition)") {
    val rng = new scala.util.Random(5)
    val cases = Seq("single", "two tokens", "the the the dup dup tokens",
      "  padded   with   spaces  ",
      // SQL-parity edge cases (DuckDB keeps boundary empty tokens after
      // a space-only trim; empty text hashes the single empty token)
      "", "\thas a leading tab", "trailing tab\t", "mid\t\ttabs") ++
      (1 to 30).map(_ => (1 to 1 + rng.nextInt(20))
        .map(_ => rng.alphanumeric.take(1 + rng.nextInt(8)).mkString)
        .mkString(" "))
    for (s <- cases; n <- Seq(16, 48, 63)) {
      assert(SimHashBits.compute(UTF8String.fromString(s), n) ==
        reference(s, n), s"mismatch for '$s' nBits=$n")
    }
    // Dedup.simhash16, the 16-bit projection (bits 0, 4, ..., 60) of the
    // wide hash, against the hex-parity definition; null text is 0
    val got16 = (cases.map(Option(_)) :+ None).toDF("text")
      .select($"text", graft.ops.Dedup.simhash16($"text").as("h"))
      .collect().map(r => Option(r.getString(0)) -> r.getLong(1))
    assert(got16.length == cases.size + 1)
    for ((s, h) <- got16) {
      assert(h == s.fold(0L)(hexParity16), s"simhash16 mismatch for $s")
    }
  }

  test("codegen path == interpreted, stays in WholeStageCodegen; near-dups are hamming-close") {
    val base = (0 until 40).map(i => s"tok$i").mkString(" ")
    val docs = Seq(
      (1L, base),
      (2L, base.replace("tok7", "tokX")), // one token changed
      (3L, "completely different content everywhere here now")
    ).toDF("id", "text")
    val dir = graft.pipeline.SparkTestSession.scratchDir("shb")
    docs.write.mode("overwrite").parquet(dir)
    val out = spark.read.parquet(dir).select($"id",
      SimHashBits.simhashBits($"text", 48).as("sh"))
    out.count()
    assert(out.queryExecution.executedPlan.toString.contains("*(1)"),
      "custom expression must not break whole-stage codegen")
    val hs = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(hs(1L) == SimHashBits.compute(UTF8String.fromString(base), 48))
    val d12 = java.lang.Long.bitCount(hs(1L) ^ hs(2L))
    val d13 = java.lang.Long.bitCount(hs(1L) ^ hs(3L))
    assert(d12 < d13, s"near-dup hamming $d12 must beat unrelated $d13")
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
  }

  test("simhashNearDupPairs finds the planted near-dup via band buckets, no all-pairs") {
    import graft.ops.Dedup
    val base = (0 until 60).map(i => s"word$i").mkString(" ")
    val docs = ((0L, base) +: (1L, base.replace("word9", "wordZ")) +:
      (2L until 12L).map(i =>
        (i, (0 until 60).map(j => s"w${i}_$j").mkString(" "))))
      .toDF("doc_id", "text")
    val pairs = Dedup.simhashNearDupPairs(docs, "doc_id", "text",
        nBits = 48, nBands = 4, maxHamming = 3)
      .select($"id_a", $"id_b").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    assert(pairs.contains((0L, 1L)),
      s"planted near-dup must surface, got ${pairs.toSeq}")
    assert(pairs.forall { case (a, b) => a == 0L && b == 1L },
      s"unrelated docs must not pair, got ${pairs.toSeq}")
    // the plan is an equi-join by (band, sig) — never a cartesian
    val plan = Dedup.simhashNearDupPairs(docs, "doc_id", "text")
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"))
  }
}
