package graft.pipeline

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.types.StructType

/** One namespace of per-batch directories, `<dir>/batch=<id>`: the
  * engine's one layout for state and outputs kept per batch, as the
  * reference keeps its checkpoint in one sincedb file with one format
  * (s3.rb:446-468). This is the only code that builds, lists or parses
  * a `batch=` or `compacted-` name. Its rules:
  *
  *  - [[write]] overwrites its batch's dir wholesale, so the re-run of a
  *    crashed batch replaces what the crash left, never merges with it;
  *  - a dir COUNTS only if its batch id is in the caller's committed set
  *    or it is a `compacted-<nanos>` survivor of a [[fold]]; any other
  *    dir is an orphan a crash left, invisible to [[read]];
  *  - [[fold]] writes its snapshot FIRST (coexisting with its inputs only
  *    duplicates rows, which every reader's distinct or anti-join
  *    absorbs) and deletes only dirs it listed before that write;
  *  - [[retain]] only deletes, so any prefix of its deletes leaves a
  *    smaller, still-correct namespace.
  *
  * Every namespace has one writer: the cycle's are keyed by checkpoint
  * identity, the stream's live under `stream/`, and each growth bound
  * runs when no write to its namespace is in flight (the cycle's
  * post-commit, the stream's batch start). That is why a fold may
  * delete orphans as crash debris.
  */
final case class BatchDirs(dir: String) {

  def path(id: String): String = s"$dir/batch=$id"

  /** Overwrite batch `id`'s dir with `df`; returns the dir. */
  def write(df: DataFrame, id: String): String = {
    val dest = path(id)
    df.write.mode("overwrite").parquet(dest)
    dest
  }

  /** Every batch dir of the namespace, as a qualified path (empty when
    * the namespace does not exist). A driver-side listing, no Spark job.
    */
  def dirs(spark: SparkSession): Seq[String] = {
    val p = new Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) Seq.empty
    else fs.listStatus(p).toSeq.map(_.getPath)
      .filter(_.getName.startsWith("batch=")).map(_.toString)
  }

  /** The batch ids of [[dirs]]. */
  def ids(spark: SparkSession): Seq[String] = dirs(spark).map(BatchDirs.idOf)

  /** The gate: the listed `dirs` that count under `committed`. */
  private[pipeline] def admitted(dirs: Seq[String],
      committed: Set[String]): Seq[String] =
    dirs.filter { d =>
      val id = BatchDirs.idOf(d)
      id.startsWith("compacted-") || committed.contains(id)
    }

  /** The rows of every dir that counts under `committed`; None when none
    * does. `schema`, when given, is the read schema (no inference).
    */
  def read(spark: SparkSession, committed: Set[String],
      schema: Option[StructType] = None): Option[DataFrame] =
    BatchDirs.readDirs(spark, admitted(dirs(spark), committed), schema)

  /** The numeric batch ids below `b`, ascending: a stream's committed set
    * when micro-batch `b` starts (micro-batches run in order, so every
    * earlier one committed). Survivors and other names are not numeric.
    */
  def before(spark: SparkSession, b: Long): Seq[String] =
    ids(spark)
      .filter(id => id.nonEmpty && id.forall(_.isDigit) && id.toLong < b)
      .sortBy(_.toLong)

  /** Fold growth bound: once the namespace holds more than `maxDirs`
    * dirs, write every counted dir's distinct rows as one `compacted-`
    * survivor, then delete every dir listed before it (orphans
    * included). The read merges schemas, so a namespace whose rows
    * gained a column across engine versions (the violation census)
    * loses none in the snapshot; absent columns read as null.
    */
  def fold(spark: SparkSession, committed: Set[String],
      maxDirs: Int = 64): Boolean = {
    val listed = dirs(spark)
    if (listed.length <= maxDirs) return false
    val counted = admitted(listed, committed)
    if (counted.nonEmpty)
      writeSurvivor(spark.read.option("mergeSchema", "true")
        .parquet(counted: _*).distinct())
    BatchDirs.delete(spark, listed)
    true
  }

  /** Keep-only growth bound, for namespaces whose dirs must not row-fold
    * (a full cluster-label generation, a full carry snapshot): delete
    * every listed dir whose id `keep` rejects.
    */
  def retain(spark: SparkSession, keep: String => Boolean): Unit =
    BatchDirs.delete(spark, dirs(spark).filterNot(d => keep(BatchDirs.idOf(d))))

  /** Write `df` as a fresh fold survivor, which counts under any
    * committed set.
    */
  private[pipeline] def writeSurvivor(df: DataFrame): String =
    write(df, s"compacted-${System.nanoTime()}")
}

object BatchDirs {

  private def idOf(dir: String): String =
    new Path(dir).getName.stripPrefix("batch=")

  /** Read exactly `dirs` (paths from [[BatchDirs.dirs]]); None when empty. */
  private[pipeline] def readDirs(spark: SparkSession, dirs: Seq[String],
      schema: Option[StructType] = None): Option[DataFrame] =
    if (dirs.isEmpty) None
    else Some(schema.fold(spark.read)(s => spark.read.schema(s))
      .parquet(dirs: _*))

  private[pipeline] def delete(spark: SparkSession, dirs: Seq[String]): Unit = {
    val conf = spark.sparkContext.hadoopConfiguration
    dirs.foreach { d =>
      val p = new Path(d)
      p.getFileSystem(conf).delete(p, true)
    }
  }
}
