package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.Streaming.Carry

/** The per-batch directory store: how it reads a namespace written in
  * the `<ns>/batch=<id>` layout, and that it is the one place in
  * `src/main` that knows the layout's names.
  */
class BatchDirsSpec extends AnyFunSuite {
  lazy val spark: SparkSession = SparkTestSession.spark
  import spark.implicits._

  private def names(dirs: Seq[String]): Seq[String] =
    dirs.map(d => new org.apache.hadoop.fs.Path(d).getName).sorted

  test("a namespace written by hand in the batch=<id> layout: the gate, " +
      "read, ids-below view, fold and retention treat each dir by its name") {
    val root = SparkTestSession.scratchDir("batchdirs")
    val ns = s"$root/_ns"
    def put(dir: String, vs: String*): Unit = vs.toDF("v").write.parquet(dir)
    put(s"$ns/batch=7", "a")
    put(s"$ns/batch=compacted-1", "b") // a fold survivor
    put(s"$ns/batch=orphan", "x") // a batch that never committed
    put(s"$ns/batch=0", "n0")
    put(s"$ns/batch=1", "n1")
    put(s"$ns/batch=12", "n12")
    put(s"$ns/_tmp", "t") // not a batch dir
    val store = BatchDirs(ns)
    assert(store.path("7") == s"$ns/batch=7")
    assert(names(store.dirs(spark)) == Seq("batch=0", "batch=1", "batch=12",
      "batch=7", "batch=compacted-1", "batch=orphan"))
    assert(store.ids(spark).sorted ==
      Seq("0", "1", "12", "7", "compacted-1", "orphan"))

    // the gate: committed ids and survivors count, orphans do not
    val committed = Set("0", "1", "7", "12")
    def rows(c: Set[String]): Option[Seq[String]] =
      store.read(spark, c).map(_.as[String].collect().toSeq.sorted)
    assert(rows(committed) == Some(Seq("a", "b", "n0", "n1", "n12")))
    assert(rows(Set.empty) == Some(Seq("b")),
      "a survivor counts under any committed set")
    assert(BatchDirs(s"$root/absent").read(spark, committed).isEmpty)

    // the stream's committed set: numeric ids below B, in numeric order
    assert(store.before(spark, 12L) == Seq("0", "1", "7"))
    assert(store.before(spark, 13L) == Seq("0", "1", "7", "12"))
    assert(store.before(spark, 0L).isEmpty)

    // the carry snapshots: the latest strictly below B is read, and a
    // write keeps itself and the two ids below it
    for (b <- Seq(6, 7, 8))
      Seq(("c", s"h$b")).toDF("conv_id", "carry_header")
        .write.parquet(s"${Carry.dir(root)}/batch=$b")
    assert(Carry.read(spark, root, beforeBatch = 8L)
      .select($"carry_header").as[String].collect().toSeq == Seq("h7"))
    Carry.write(Seq(("c", "h9")).toDF("conv_id", "carry_header"), root, 9L)
    assert(names(BatchDirs(Carry.dir(root)).dirs(spark)) ==
      Seq("batch=7", "batch=8", "batch=9"))

    // the fold: past the threshold, one survivor holding the counted
    // rows; every listed dir, the orphan included, is gone
    assert(!store.fold(spark, committed, maxDirs = 6), "at the threshold")
    assert(store.fold(spark, committed, maxDirs = 5))
    val folded = names(store.dirs(spark))
    assert(folded.length == 1 && folded.head.startsWith("batch=compacted-"),
      s"got $folded")
    assert(rows(Set.empty) == Some(Seq("a", "b", "n0", "n1", "n12")))

    // keep-only retention deletes exactly the rejected ids
    val gens = BatchDirs(s"$root/_gens")
    for (g <- Seq("g1", "g2", "g3")) put(gens.path(g), g)
    gens.retain(spark, _ == "g2")
    assert(names(gens.dirs(spark)) == Seq("batch=g2"))
  }

  /** `src` with comments removed and string and character literals
    * kept; block comments nest, as in Scala.
    */
  private def code(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        val j = src.indexOf("\"\"\"", i + 3)
        val end = if (j < 0) n else j + 3
        out ++= src.substring(i, end)
        i = end
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        out ++= src.substring(i, math.min(j + 1, n))
        i = j + 1
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || src(i + 1) == '\\')) {
        val from = if (src(i + 1) == '\\') i + 3 else i + 2
        val end = src.indexOf('\'', from) + 1
        out ++= src.substring(i, end)
        i = end
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        i = j
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  /** `code` without the arguments of its `println(...)` calls (log
    * messages may name a dir). Parentheses inside string literals do
    * not count.
    */
  private def withoutLogs(code: String): String = {
    val call = "println("
    val k = code.indexOf(call)
    if (k < 0) code
    else {
      var depth = 1
      var j = k + call.length
      var quoted = false
      while (j < code.length && depth > 0) {
        code(j) match {
          case '"' => quoted = !quoted
          case '\\' if quoted => j += 1
          case '(' if !quoted => depth += 1
          case ')' if !quoted => depth -= 1
          case _ =>
        }
        j += 1
      }
      code.substring(0, k) + withoutLogs(code.substring(j))
    }
  }

  private val layoutNames = Seq("batch=", "compacted-")

  private def namesLayout(src: String): Boolean = {
    val c = withoutLogs(code(src))
    layoutNames.exists(c.contains)
  }

  test("outside BatchDirs, no src/main code builds or parses a batch= " +
      "or compacted- name") {
    // the scan itself: code is caught, comments and log messages are not
    assert(namesLayout("val p = s\"$d/batch=$id\""))
    assert(namesLayout("val s = d.split(\"compacted-\")"))
    assert(!namesLayout("/** `<ns>/batch=<id>` /* nested */ */ val x = 1"))
    assert(!namesLayout("System.err.println(s\"[x] batch=$b (n) \" +\n" +
      "  s\"to ${f(b)}\") // batch=\nval y = 2"))
    assert(!namesLayout("val q = '\"'; // batch="))

    val store = Paths.get("src/main/scala/graft/pipeline/BatchDirs.scala")
    val walk = Files.walk(Paths.get("src/main"))
    val files: Seq[Path] =
      try walk.iterator().asScala
        .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
        .toList
      finally walk.close()
    assert(files.contains(store), "the suite must run from the root of a checkout")
    def read(p: Path) = new String(Files.readAllBytes(p), UTF_8)
    assert(namesLayout(read(store)), "the store itself names the layout")
    val offenders = files.filterNot(_ == store).filter(p => namesLayout(read(p)))
    assert(offenders.isEmpty,
      s"batch-dir names outside BatchDirs: ${offenders.mkString(", ")}")
  }
}
