package graft.functions

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

class RollingHashMinSpec extends AnyFunSuite {
  lazy val spark: SparkSession = graft.pipeline.SparkTestSession.spark
  import spark.implicits._

  /** Independent reference: hash every window from scratch. */
  private def reference(s: String, w0: Int): Long = {
    val bytes = s.getBytes("UTF-8")
    if (bytes.isEmpty) return 0L
    val w = math.min(w0, bytes.length)
    def hashAt(start: Int): Long = {
      var h = 0L
      for (i <- start until start + w)
        h = (h * RollingHashMin.Base + (bytes(i) & 0xff)) & RollingHashMin.Mask
      h
    }
    (0 to bytes.length - w).map(hashAt).min
  }

  test("O(1)-slide implementation == recompute-per-window reference") {
    val rng = new scala.util.Random(11)
    val cases = Seq("", "a", "short", "exactly16bytes!!",
      "a longer string with several windows and repeats repeats repeats") ++
      (1 to 50).map(_ => rng.alphanumeric.take(1 + rng.nextInt(80)).mkString) ++
      (1 to 10).map(_ => ("é中文" * (1 + rng.nextInt(10)))) // multibyte UTF-8
    for (s <- cases; w <- Seq(1, 4, 16, 64)) {
      assert(RollingHashMin.compute(UTF8String.fromString(s), w) ==
        reference(s, w), s"mismatch for '$s' w=$w")
    }
  }

  test("codegen path == interpreted eval, stays in WholeStageCodegen, and fingerprints match duplicates") {
    val docs = Seq(
      (1L, "the quick brown fox jumps over the lazy dog"),
      (2L, "the quick brown fox jumps over the lazy dog"), // exact dup
      (3L, "an entirely different document body here"),
      (4L, "")
    ).toDF("id", "text")
    // go through parquet: a bare local relation is folded and evaluated
    // on the driver, which would bypass codegen entirely
    val dir = graft.pipeline.SparkTestSession.scratchDir("rhm")
    docs.write.mode("overwrite").parquet(dir)
    val out = spark.read.parquet(dir).select($"id",
      RollingHashMin.rollingHashMin($"text", 16).as("fp"))
    out.count()
    assert(out.queryExecution.executedPlan.toString.contains("*(1)"),
      "custom expression must not break whole-stage codegen")
    val fps = out.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(fps(1L) == fps(2L), "identical docs share the fingerprint")
    assert(fps(1L) != fps(3L), "different docs differ")
    assert(fps(4L) == 0L)
    // interpreted eval agrees with the codegen'd result
    assert(fps(1L) == RollingHashMin.compute(
      UTF8String.fromString("the quick brown fox jumps over the lazy dog"), 16))
  }

  test("near-dup docs share the fingerprint when the minimizing window survives the edit") {
    // a window of 16 zero bytes hashes to exactly 0 — the guaranteed
    // minimum — so any edit elsewhere leaves the fingerprint unchanged
    val zeros = "\u0000" * 16
    val base = "some prefix " + zeros + " and a suffix tail"
    val edited = "some prefix " + zeros + " and an EDITED tail"
    val a = RollingHashMin.compute(UTF8String.fromString(base), 16)
    val b = RollingHashMin.compute(UTF8String.fromString(edited), 16)
    assert(a == 0L && b == 0L && a == b)
    // and an edit INSIDE the minimizing window changes it
    val broken = base.replace(zeros, "\u0000" * 8 + "x" + "\u0000" * 7)
    assert(RollingHashMin.compute(UTF8String.fromString(broken), 16) != 0L)
  }
}
