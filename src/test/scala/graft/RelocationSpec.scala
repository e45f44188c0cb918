package graft

import java.nio.charset.StandardCharsets.ISO_8859_1
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** The project builds, tests and measures from any checkout: no file
  * under `src/` names the absolute directory it was first checked out
  * in. The two exceptions are byte-frozen files.
  */
class RelocationSpec extends AnyFunSuite {

  test("no file under src/ hard-codes the original checkout path") {
    val checkout = Seq("", "root", "repo").mkString("/")
    val frozen = Set("src/main/scala/graft/Bench.scala",
      "src/main/scala/graft/SparkEntry.scala").map(Paths.get(_))
    val walk = Files.walk(Paths.get("src"))
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(Files.isRegularFile(_)).toList
      finally walk.close()
    assert(files.contains(Paths.get("src/main/scala/graft/BenchExtra.scala")),
      "the suite must run from the root of a checkout")
    val offenders = files.filterNot(frozen).filter { p =>
      new String(Files.readAllBytes(p), ISO_8859_1).contains(checkout)
    }
    assert(offenders.isEmpty, s"hard-coded checkout path in $offenders")
  }
}
