package graft.pipeline

import org.apache.hadoop.fs.FileStatus
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
  * it needs no lineage gate: a crash anywhere leaves every written
  * entry true. It lives in the [[CheckpointStore]] beside the lineage,
  * but a damaged ledger file is ignored (and an unparseable line on its
  * own): its input files count as unknown and are statted again.
  */
object FileLedger {

  /** An input file as one listing saw it. */
  final case class Key(path: String, length: Long, mtime: Long)

  object Key {
    def of(st: FileStatus): Key =
      Key(st.getPath.toString, st.getLen, st.getModificationTime)
  }

  /** Max `ts` in epoch micros over a file's rows; None: no non-null ts. */
  type MaxTs = Option[Long]

  def dir(lineageDir: String): String = s"$lineageDir/_files"

  private def store(spark: SparkSession, dir: String) =
    new CheckpointStore(spark, dir, ".ledger", strict = false)

  /** Every valid entry of the ledger under `dir`. */
  def read(spark: SparkSession, dir: String): Map[Key, MaxTs] =
    entries(store(spark, dir).read())

  /** Append `entries` as one new ledger file. */
  def append(spark: SparkSession, dir: String,
      entries: Map[Key, MaxTs]): Unit =
    store(spark, dir).append(lines(entries))

  /** Growth bound, the store's fold: past `maxFiles` ledger files, only
    * the entries of the `listed` input files are kept (a sealed day, a
    * deleted or rewritten file, another identity's input drop out).
    */
  def fold(spark: SparkSession, dir: String, listed: Set[Key],
      maxFiles: Int = 64): Boolean =
    store(spark, dir).fold(maxFiles)(ls =>
      lines(entries(ls).filter { case (k, _) => listed.contains(k) }))

  /** A line per entry: `<path> <length> <mtime> <max ts micros>`. */
  private[pipeline] def lines(entries: Map[Key, MaxTs]): Seq[String] =
    entries.toSeq.sortBy(_._1.path).map { case (k, mx) =>
      CheckpointStore.line(k.path, k.length.toString, k.mtime.toString,
        mx.map(_.toString).orNull)
    }

  /** The entries of ledger lines, skipping unparseable ones. Duplicate
    * keys (a crashed fold, two identities statting one file) merge by
    * max: a larger max only keeps a file pinned.
    */
  private[pipeline] def entries(lines: Seq[String]): Map[Key, MaxTs] =
    lines.flatMap(parseLine).groupMapReduce(_._1)(_._2)(Ordering[MaxTs].max)

  private def parseLine(line: String): Option[(Key, MaxTs)] =
    scala.util.Try(CheckpointStore.fields(line) match {
      case Seq(p, len, mt, mx) =>
        Key(p, len.toLong, mt.toLong) -> Option(mx).map(_.toLong)
    }).toOption
}
