package graft.pipeline

import java.nio.charset.StandardCharsets.UTF_8
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.SparkSession

/** The per-file sincedb: facts about input files, kept beside the
  * lineage in `<lineage dir>/_files/`. The reference skips an object
  * whose `last_modified` is not newer than sincedb before it downloads
  * a byte (s3.rb:142, 151-152); the engine's unit of skipping is a whole
  * input file, so it records each file's newest row instead.
  *
  * An entry maps a file's identity as the listing saw it, `(path,
  * length, mtime)`, to the max `ts` over ALL of the file's rows (None:
  * no row with a non-null ts). No guard or config enters that max, so
  * the fact holds for every checkpoint identity that shares the lineage
  * dir. A file rewritten in place gets a new length or mtime, so its
  * old entry no longer matches and the file is statted again; one
  * rewritten with the same length AND mtime is not (the reference's
  * mtime contract, s3.rb:383-390; parquet writers never rewrite a file).
  *
  * The ledger holds facts about immutable files, not commit state, so
  * it needs no lineage gate: a crash at any point leaves every written
  * entry true. Each ledger file is one driver-side write through the
  * Hadoop FileSystem API, no Spark job, and ends with a footer (entry
  * count and CRC32 of the body). A file without a valid footer is torn
  * or damaged and is ignored as a whole; an unparseable line is
  * ignored on its own. Either way its input files count as unknown and
  * are statted again, never wrongly skipped.
  */
object FileLedger {

  /** An input file as one listing saw it. */
  final case class Key(path: String, length: Long, mtime: Long)

  object Key {
    def of(st: FileStatus): Key =
      Key(st.getPath.toString, st.getLen, st.getModificationTime)
  }

  /** Max `ts` in epoch microseconds over a file's rows, None if no row
    * has a non-null ts.
    */
  type MaxTs = Option[Long]

  def dir(lineageDir: String): String = s"$lineageDir/_files"

  private val Suffix = ".ledger"
  private val Footer = "#end"

  /** Every valid entry of the ledger files under `dir` (empty when the
    * dir does not exist). Duplicate keys, left by a crashed fold or by
    * two identities statting one file, merge by max: a larger max only
    * keeps a file pinned.
    */
  def read(spark: SparkSession, dir: String): Map[Key, MaxTs] =
    merged(files(spark, dir))

  /** Append `entries` as one new ledger file. */
  def append(spark: SparkSession, dir: String,
      entries: Map[Key, MaxTs]): Unit =
    if (entries.nonEmpty) {
      val d = new Path(dir)
      val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val out = fs.create(new Path(d,
        s"${System.nanoTime()}-${java.util.UUID.randomUUID()}$Suffix"), false)
      try out.write(format(entries).getBytes(UTF_8)) finally out.close()
    }

  /** Growth bound, as the lineage's: once the ledger holds more than
    * `maxFiles` files, rewrite the entries of the `listed` input files
    * as one file, then delete exactly the ledger files read for it.
    * Entries of files no longer listed (a sealed day, a deleted file, a
    * stale length or mtime, another identity's input) drop out; a crash
    * before the deletes leaves duplicate entries, which [[read]] merges.
    */
  def fold(spark: SparkSession, dir: String, listed: Set[Key],
      maxFiles: Int = 64): Boolean = {
    val ledgers = files(spark, dir)
    if (ledgers.length <= maxFiles) return false
    append(spark, dir,
      merged(ledgers).filter { case (k, _) => listed.contains(k) })
    ledgers.foreach { case (fs, p) => fs.delete(p, false) }
    true
  }

  /** One ledger file's text: a line per entry, `<url-encoded path>
    * <length> <mtime> <max ts micros or ->`, then the footer
    * `#end <entries> <crc32 of the body, hex>`.
    */
  private[pipeline] def format(entries: Map[Key, MaxTs]): String = {
    val body = entries.toSeq.sortBy(_._1.path).map { case (k, mx) =>
      s"${java.net.URLEncoder.encode(k.path, UTF_8)} ${k.length} ${k.mtime} " +
        mx.fold("-")(_.toString) + "\n"
    }.mkString
    s"$body$Footer ${entries.size} ${crc(body)}\n"
  }

  /** The entries of one ledger file's text; empty unless its footer
    * matches the body's entry count and checksum.
    */
  private[pipeline] def parse(text: String): Map[Key, MaxTs] = {
    val cut = text.lastIndexOf(s"\n$Footer ") + 1
    val footer =
      if (cut == 0 && !text.startsWith(s"$Footer ")) Array.empty[String]
      else text.substring(cut).stripSuffix("\n").split(' ')
    val body = text.substring(0, cut)
    val lines = body.split('\n').filter(_.nonEmpty)
    val valid = footer.length == 3 && footer(0) == Footer &&
      footer(1) == lines.length.toString && footer(2) == crc(body)
    if (!valid) Map.empty
    else lines.iterator.flatMap(parseLine).toMap
  }

  private def parseLine(line: String): Option[(Key, MaxTs)] =
    line.split(' ') match {
      case Array(p, len, mt, mx) =>
        scala.util.Try {
          val max = if (mx == "-") None else Some(mx.toLong)
          Key(java.net.URLDecoder.decode(p, UTF_8), len.toLong, mt.toLong) -> max
        }.toOption
      case _ => None
    }

  private def crc(s: String): String = {
    val c = new java.util.zip.CRC32
    c.update(s.getBytes(UTF_8))
    java.lang.Long.toHexString(c.getValue)
  }

  private def merged(ledgers: Seq[(FileSystem, Path)]): Map[Key, MaxTs] =
    ledgers.flatMap { case (fs, p) => parse(slurp(fs, p)) }
      .groupMapReduce(_._1)(_._2)(Ordering[MaxTs].max)

  /** The ledger files under `dir`; hidden names (the local filesystem's
    * `.crc` sidecars) are skipped.
    */
  private def files(spark: SparkSession, dir: String): Seq[(FileSystem, Path)] = {
    val d = new Path(dir)
    val fs = d.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(d)) Seq.empty
    else fs.listStatus(d).toSeq.map(_.getPath)
      .filter(p => p.getName.endsWith(Suffix) && !p.getName.startsWith("."))
      .map(fs -> _)
  }

  /** A ledger file's text; empty, so invalid, when it cannot be read
    * whole (a checksum failure on a torn local file, a file a concurrent
    * fold deleted).
    */
  private def slurp(fs: FileSystem, p: Path): String =
    try {
      val in = fs.open(p)
      try new String(in.readAllBytes(), UTF_8) finally in.close()
    } catch { case _: java.io.IOException => "" }
}
