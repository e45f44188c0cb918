package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** The driver-side checkpoint store, as the reference's sincedb is one
  * small file the driver reads once per cycle (s3.rb:446-468): text
  * files of lines under `dir`, read and written through the Hadoop
  * FileSystem API with no Spark job. The lineage ([[Lineage]]) and the
  * file ledger ([[FileLedger]]) encode their records as lines here.
  *
  * One crash argument covers both. A file is written under a hidden
  * name, renamed into place, and ends `#end <lines> <crc32 of the
  * body>`; a file whose footer does not match is damaged, and a read
  * fails naming it when `strict` (commit state) or ignores it (facts
  * that can be derived again). [[fold]] appends the listed files' lines
  * as one file, then deletes exactly those files; a crash in between
  * leaves duplicate lines, which both callers' reads tolerate.
  */
private[pipeline] final class CheckpointStore(spark: SparkSession,
    dir: String, suffix: String, strict: Boolean) {

  private val root = new Path(dir)
  private val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The lines of every file in the store (none when `dir` is absent). */
  def read(): Seq[String] = linesOf(list())

  /** Write `lines` as one new file (nothing when `lines` is empty). */
  def append(lines: Seq[String]): Unit =
    if (lines.nonEmpty) {
      val name = s"${System.nanoTime()}-${java.util.UUID.randomUUID()}$suffix"
      val tmp = new Path(root, s".$name.tmp")
      scala.util.Using.resource(fs.create(tmp, false))(
        _.write(CheckpointStore.format(lines).getBytes(UTF_8)))
      if (!fs.rename(tmp, new Path(root, name)))
        throw new java.io.IOException(s"cannot rename $tmp into $dir")
    }

  /** Past `maxFiles` files, append `rewrite` of their lines as one file
    * and delete exactly the files read for it; true when it folded.
    */
  def fold(maxFiles: Int)(rewrite: Seq[String] => Seq[String]): Boolean = {
    val listed = list()
    val due = listed.length > maxFiles
    if (due) {
      append(rewrite(linesOf(listed)))
      delete(listed)
    }
    due
  }

  /** The `*<ext>` files under `dir`, skipping hidden names (in-flight
    * temp files, the local filesystem's `.crc` sidecars).
    */
  def list(ext: String = suffix): Seq[Path] =
    if (!fs.exists(root)) Seq.empty
    else fs.listStatus(root).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(ext) && !p.getName.startsWith("."))

  def delete(paths: Seq[Path]): Unit = paths.foreach(fs.delete(_, false))

  private def linesOf(paths: Seq[Path]): Seq[String] = paths.flatMap(p =>
    CheckpointStore.parse(slurp(p)).orElse(Option.when(!strict)(Nil))
      .getOrElse(throw new IllegalStateException(s"corrupt checkpoint " +
        s"file $p: unreadable or a bad footer; repair or remove it")))

  /** A file's text; empty, so invalid, when it cannot be read whole. */
  private def slurp(p: Path): String = scala.util.Using(fs.open(p))(in =>
    new String(in.readAllBytes(), UTF_8)).getOrElse("")
}

private[pipeline] object CheckpointStore {

  private val Footer = "#end"

  /** A line of fields, each URL-encoded, NULL as `-` (the one string the
    * encoder leaves as `-` is written `%2D`).
    */
  def line(fields: String*): String = fields.map(f =>
    if (f == null) "-" else if (f == "-") "%2D"
    else java.net.URLEncoder.encode(f, UTF_8)).mkString(" ")

  def fields(line: String): Seq[String] = line.split(" ", -1).toSeq.map(f =>
    if (f == "-") null else java.net.URLDecoder.decode(f, UTF_8))

  /** One file's text: the lines, then the footer. */
  def format(lines: Seq[String]): String = {
    val body = lines.map(_ + "\n").mkString
    s"$body$Footer ${lines.length} ${crc(body)}\n"
  }

  /** One file's lines; None unless the footer matches the body. */
  def parse(text: String): Option[Seq[String]] = {
    val all = text.split('\n').toSeq
    val body = all.dropRight(1)
    val lines = body.filter(_.nonEmpty)
    all.lastOption.map(_.split(' ').toSeq).collect {
      case Seq(Footer, n, c) if n == lines.length.toString &&
        c == crc(body.map(_ + "\n").mkString) => lines
    }
  }

  private def crc(s: String): String = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }
}
