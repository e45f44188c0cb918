package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{Dedup, Similarity, TextAnalysis}

/** The driver-contract query set: every SURVEY.md §2 operator re-expressed
  * over the driver's parquet tables (TESTDATA.md), each paired with
  * ANSI-SQL oracle text executable by DuckDB on the same tables.
  *
  * Parity rules used throughout (Spark <-> DuckDB hash-equality):
  *  - integers out wherever possible; DuckDB integer sums are cast to
  *    BIGINT (they default to HUGEINT);
  *  - doubles only after round(x, d) at a digit where both engines hold
  *    the same exact value (sums of k-decimal data rounded at >= k);
  *  - float64 accumulation on both sides for vector math, round(6);
  *  - timestamps formatted to strings;
  *  - explicit ORDER BY on both sides;
  *  - all hash material is md5 (identical hex in both engines).
  */
object Queries {

  private def t(spark: SparkSession, dir: String, name: String): DataFrame =
    spark.read.parquet(s"$dir/$name.parquet")

  /** Table reader with scale-adaptive parallelization (guide §2.5
    * "input skew — one small/unsplittable file"): the driver's test
    * tables are single parquet files below maxPartitionBytes, so a
    * compute-heavy narrow chain above a bare read runs on ONE core of
    * the local[N] session. `Dedup.parallelized` round-robins to the
    * default parallelism only when the scan carries fewer partitions
    * than the cluster — a no-op at production scale (any multi-GB
    * table already splits into more partitions than cores), so nothing
    * here is tuned to the bench topology. Deterministic filters still
    * push through the Repartition into the scan (PushDownPredicate).
    *
    * Applied SELECTIVELY (r9 A/B per query): only where the per-row
    * work above the scan dwarfs the small round-robin shuffle —
    * per-word native BPE (d14) and the iterative embedding math
    * (e02/e08/e10/e11, where every kmeans/assignment pass re-scans the
    * single-partition table). A blanket application measured NET
    * NEGATIVE on cheap scans (q01 0.31->0.96 s, f01 0.30->1.07,
    * d24 0.30->1.13): for scan+aggregate queries the shuffle+sort of
    * the payload costs more than the single-core narrow work it
    * parallelizes. The shingle/minhash/langid/contamination operators
    * parallelize INSIDE the operator instead (Dedup.minhashSignatures,
    * contaminationScreen, langIdColumns).
    */
  private def tp(spark: SparkSession, dir: String, name: String): DataFrame =
    graft.ops.Dedup.parallelized(t(spark, dir, name))

  // ---------------------------------------------------------------- //
  // Pipeline-semantics queries over `events` (the log-stream analog)  //
  // ---------------------------------------------------------------- //

  /** S4+S5: watermark + freshness-cutoff discovery predicates
    * (s3.rb:151-154) with an injected deterministic clock.
    */
  def q02(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(col("ts") > lit("2024-01-02 00:00:00").cast("timestamp"))
      .filter(col("ts") <= lit("2024-01-06 00:00:00").cast("timestamp")
        - expr("INTERVAL 3 SECONDS"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        min(col("event_id")).as("min_id"), max(col("event_id")).as("max_id"),
        date_format(max(col("ts")), "yyyy-MM-dd HH:mm:ss").as("max_ts"))
      .orderBy(col("event_type"))

  val q02Sql: String =
    """SELECT event_type, count(*) AS n, min(event_id) AS min_id,
       max(event_id) AS max_id,
       strftime(max(ts), '%Y-%m-%d %H:%M:%S') AS max_ts
       FROM events
       WHERE ts > TIMESTAMP '2024-01-02 00:00:00'
         AND ts <= TIMESTAMP '2024-01-06 00:00:00' - INTERVAL 3 SECOND
       GROUP BY event_type ORDER BY event_type"""

  /** S7d: exclude_pattern regex filter (s3.rb:76, 369). */
  def q03(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .filter(!col("props").rlike("\"k\": 8\\d"))
      .groupBy(col("event_type")).agg(count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q03Sql: String =
    """SELECT event_type, count(*) AS n FROM events
       WHERE NOT regexp_matches(props, '"k": 8\d')
       GROUP BY event_type ORDER BY event_type"""

  /** S3: zero/short-content skip (s3.rb:149). */
  def q04(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("n_chars") >= 200)
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_chars")).as("total_chars"))
      .orderBy(col("source"))

  val q04Sql: String =
    """SELECT source, count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
       FROM documents WHERE n_chars >= 200
       GROUP BY source ORDER BY source"""

  /** S8: discovery sort oldest-first — first 3 events per user
    * (s3.rb:166).
    */
  def q05(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts"), col("event_id"))
    t(spark, dir, "events")
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select(col("user_id"), col("event_id"), col("rn"))
      .orderBy(col("user_id"), col("rn"))
  }

  val q05Sql: String =
    """SELECT user_id, event_id, rn FROM (
         SELECT user_id, event_id,
                row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id) AS rn
         FROM events) WHERE rn <= 3 ORDER BY user_id, rn"""

  /** P1/grok: regex field extraction from a raw string column
    * (the codec-decode analog, s3.rb:224-239).
    */
  def q06(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", regexp_extract(col("props"), "\"k\": (\\d+)", 1)
        .cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"), count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q06Sql: String =
    """SELECT event_type,
       CAST(sum(CAST(regexp_extract(props, '"k": (\d+)', 1) AS BIGINT)) AS BIGINT) AS sum_k,
       count(*) AS n
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** P5: per-group header propagation — last marker value carried onto
    * subsequent rows (s3.rb:280-290). Uses the scale-safe chunked prefix
    * scan (PrefixOps), which this oracle proves equal to the windowed
    * IGNORE NULLS semantics.
    */
  def q07(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .withColumn("marker",
        when(col("event_type") === "signup", col("event_id")))
    graft.pipeline.PrefixOps.scanMany(ev, Seq(col("marker") -> "hdr"),
        None, chunkSize = 1024, convCol = "user_id", idxCol = "event_id")
      .select(col("user_id"), col("event_id"), col("hdr"))
      .orderBy(col("user_id"), col("event_id"))
  }

  val q07Sql: String =
    """SELECT user_id, event_id,
       last_value(CASE WHEN event_type='signup' THEN event_id END IGNORE NULLS)
         OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hdr
       FROM events ORDER BY user_id, event_id"""

  /** P3: sessionization by boundary markers (multiline codec analog,
    * spec:479-491) — running count of boundaries via the chunked prefix
    * sum.
    */
  def q08(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.pipeline.PrefixOps.scanMany(ev, Nil,
        Some(when(col("event_type") === "signup", lit(1)).otherwise(lit(0)) ->
          "session_id"),
        chunkSize = 1024, convCol = "user_id", idxCol = "event_id")
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q08Sql: String =
    """WITH s AS (
         SELECT user_id, event_id,
                CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM events)
       SELECT user_id, session_id, count(*) AS n_events,
              min(event_id) AS first_event, max(event_id) AS last_event
       FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** §2.3: broadcast-hash-join enrichment (dim tables always broadcast). */
  def q09(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "customer")
      .join(broadcast(t(spark, dir, "nation")),
        col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, dir, "region")),
        col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n_customers"),
        round(sum(col("c_acctbal")), 2).as("sum_bal"))
      .orderBy(col("r_name"))

  val q09Sql: String =
    """SELECT r_name, count(*) AS n_customers,
       round(sum(c_acctbal), 2) AS sum_bal
       FROM customer JOIN nation ON c_nationkey = n_nationkey
       JOIN region ON n_regionkey = r_regionkey
       GROUP BY r_name ORDER BY r_name"""

  /** S13-S16: predicate routing fan-out — every row to exactly one sink. */
  private val routingCase: Column =
    when(col("event_type") === "error", lit("deadletter"))
      .when(col("value") > 150.0, lit("excluded"))
      .when(col("event_type").isin("purchase", "signup"), lit("conversions"))
      .otherwise(lit("activity"))

  private val routingCaseSql: String =
    """CASE WHEN event_type = 'error' THEN 'deadletter'
            WHEN value > 150.0 THEN 'excluded'
            WHEN event_type IN ('purchase','signup') THEN 'conversions'
            ELSE 'activity' END"""

  def q10(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("sink", routingCase)
      .groupBy(col("sink"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("sink"))

  val q10Sql: String =
    s"""SELECT $routingCaseSql AS sink, count(*) AS n,
        round(sum(value), 2) AS sum_value
        FROM events GROUP BY 1 ORDER BY 1"""

  /** §2.7: routed-row set equality — union of sinks == input, proven by
    * EXCEPT ALL in both directions (the north rule's invariant).
    */
  def q11(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = t(spark, dir, "events")
    val routed = ev.withColumn("sink", routingCase)
    // four INDEPENDENT actions — overlapped from a small thread pool so
    // the later jobs back-fill the earlier jobs' straggler tails
    // (guide §2.6); the EXCEPT ALL shapes themselves are unchanged
    // (this query is the §2.7 set-ops coverage witness).
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fTotal = Future(ev.count())
    val fRouted = Future(routed.count())
    val fMissing = Future(ev.select(col("event_id"))
      .exceptAll(routed.select(col("event_id"))).count())
    val fExtra = Future(routed.select(col("event_id"))
      .exceptAll(ev.select(col("event_id"))).count())
    val (total, routedN, missing, extra) = (
      Await.result(fTotal, Duration.Inf), Await.result(fRouted, Duration.Inf),
      Await.result(fMissing, Duration.Inf), Await.result(fExtra, Duration.Inf))
    Seq((total, routedN, missing, extra))
      .toDF("total_rows", "routed_rows", "missing_rows", "extra_rows")
  }

  val q11Sql: String =
    s"""WITH r AS (SELECT event_id, $routingCaseSql AS sink FROM events)
        SELECT (SELECT count(*) FROM events) AS total_rows,
               (SELECT count(*) FROM r) AS routed_rows,
               (SELECT count(*) FROM (SELECT event_id FROM events
                  EXCEPT ALL SELECT event_id FROM r) x) AS missing_rows,
               (SELECT count(*) FROM (SELECT event_id FROM r
                  EXCEPT ALL SELECT event_id FROM events) y) AS extra_rows"""

  /** §2.4: tumbling hour-window aggregates. */
  def q12(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"),
        date_format(date_trunc("hour", col("ts")), "yyyy-MM-dd HH:mm:ss")
          .as("hour_start"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type"), col("hour_start"))

  val q12Sql: String =
    """SELECT event_type,
       strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
       count(*) AS n, round(sum(value), 2) AS sum_value
       FROM events GROUP BY 1, 2 ORDER BY 1, 2"""

  /** §2.8: checkpoint identity md5(bucket+prefix) (s3.rb:340). */
  def q13(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("source")).distinct()
      .withColumn("sincedb_id", md5(concat(col("source"), lit("+transcripts"))))
      .orderBy(col("source"))

  val q13Sql: String =
    """SELECT source, md5(source || '+transcripts') AS sincedb_id
       FROM (SELECT DISTINCT source FROM documents) ORDER BY source"""

  /** P2: JSON codec decode (spec:341-441). */
  def q14(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(sum(col("k")).as("sum_k"),
        count(col("k")).as("n_parsed"))
      .orderBy(col("event_type"))

  val q14Sql: String =
    """SELECT event_type,
       CAST(sum(CAST(props->>'k' AS BIGINT)) AS BIGINT) AS sum_k,
       count(props->>'k') AS n_parsed
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** §2.6: top-k with deterministic tie-break. */
  def q15(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "orders")
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
        col("o_orderpriority"))
      .orderBy(col("price").desc, col("o_orderkey"))
      .limit(10)

  val q15Sql: String =
    """SELECT o_orderkey, round(o_totalprice, 2) AS price, o_orderpriority
       FROM orders ORDER BY price DESC, o_orderkey LIMIT 10"""

  /** §2.7: set operations (intersect / except). */
  def q16(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val ev = t(spark, dir, "events")
    def users(et: String) =
      ev.filter(col("event_type") === et).select(col("user_id")).distinct()
    // two independent actions, overlapped (guide §2.6)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val fBoth = Future(users("purchase").intersect(users("error")).count())
    val fViewOnly = Future(users("view").except(users("click")).count())
    val (nBoth, nViewOnly) =
      (Await.result(fBoth, Duration.Inf), Await.result(fViewOnly, Duration.Inf))
    Seq((nBoth, nViewOnly)).toDF("n_both", "n_view_only")
  }

  val q16Sql: String =
    """SELECT
       (SELECT count(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type='purchase'
          INTERSECT
          SELECT DISTINCT user_id FROM events WHERE event_type='error') a) AS n_both,
       (SELECT count(*) FROM (
          SELECT DISTINCT user_id FROM events WHERE event_type='view'
          EXCEPT
          SELECT DISTINCT user_id FROM events WHERE event_type='click') b) AS n_view_only"""

  /** §2.8: the scalar-function battery (startswith/endswith/trim/
    * regexp_extract/concat/md5/substring).
    */
  def q17(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("doc_id") < 100)
      .select(col("doc_id"),
        length(col("text")).cast("long").as("len"),
        col("text").startsWith("the").as("sw"),
        col("text").endsWith("dup").as("ew"),
        regexp_extract(col("text"), "^(\\w+)", 1).as("first_word"),
        substring(md5(col("text")), 1, 8).as("h8"),
        upper(substring(col("text"), 1, 5)).as("head5"))
      .orderBy(col("doc_id"))

  val q17Sql: String =
    """SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
       starts_with(text, 'the') AS sw, ends_with(text, 'dup') AS ew,
       regexp_extract(text, '^(\w+)', 1) AS first_word,
       substr(md5(text), 1, 8) AS h8,
       upper(substr(text, 1, 5)) AS head5
       FROM documents WHERE doc_id < 100 ORDER BY doc_id"""

  /** S6: storage-class / restore eligibility filter (Glacier analog,
    * s3.rb:428-444): cold rows excluded unless "restored".
    */
  def q18(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("lang") =!= "zh" || col("n_chars") % 7 === 0)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_eligible"),
        sum(when(col("n_chars") % 7 === 0, 1L).otherwise(0L))
          .as("n_restored"))
      .orderBy(col("lang"))

  val q18Sql: String =
    """SELECT lang, count(*) AS n_eligible,
       CAST(sum(CASE WHEN n_chars % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_restored
       FROM documents WHERE lang <> 'zh' OR n_chars % 7 = 0
       GROUP BY lang ORDER BY lang"""

  /** S7c: anti-join re-exclusion — the backup-prefix self-exclusion
    * analog (s3.rb:365): drop every event of a user who already appears
    * in the "archived" set (users with an error event), expressed as a
    * genuine left_anti join rather than a predicate.
    */
  def q19(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val archived = ev.filter(col("event_type") === "error")
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_err"))
      .filter(col("n_err") >= 12)
      .select(col("user_id"))
    ev.join(archived, Seq("user_id"), "left_anti")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("n_users"))
      .orderBy(col("event_type"))
  }

  val q19Sql: String =
    """SELECT event_type, count(*) AS n,
       count(DISTINCT user_id) AS n_users
       FROM events
       WHERE user_id NOT IN
         (SELECT user_id FROM events WHERE event_type = 'error'
          GROUP BY user_id HAVING count(*) >= 12)
       GROUP BY event_type ORDER BY event_type"""

  /** P3 output shape: multiline records MERGED into one logical row per
    * session (boundary = signup), newline-joined in stable event order —
    * the multiline codec's visible output (spec:479-491) incl. the
    * trailing EOF flush.
    */
  def q20(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events").filter(col("user_id") < 40)
    val sess = graft.pipeline.PrefixOps.scanMany(ev, Nil,
      Some(when(col("event_type") === "signup", lit(1)).otherwise(lit(0)) ->
        "session_id"),
      chunkSize = 1024, convCol = "user_id", idxCol = "event_id")
    sess.groupBy(col("user_id"), col("session_id"))
      .agg(
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("event_id").as("i"),
              col("props").as("t")))),
            x => x.getField("t"))).as("merged"),
        count(lit(1)).as("n_lines"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q20Sql: String =
    """WITH s AS (
         SELECT user_id, event_id, props,
                CAST(SUM(CASE WHEN event_type='signup' THEN 1 ELSE 0 END)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
         FROM events WHERE user_id < 40)
       SELECT user_id, session_id,
              string_agg(props, chr(10) ORDER BY event_id) AS merged,
              count(*) AS n_lines
       FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** P2 corrupt-record path: permissive JSON decode where malformed
    * documents are counted into a dead-letter bucket instead of failing
    * the job (spec:341-441; `_corrupt_record` analog). A deterministic
    * subset of rows is mangled to exercise the path.
    */
  def q21(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .withColumn("raw",
        when(col("event_id") % 7 === 0, substring(col("props"), 3, 100000))
          .otherwise(col("props")))
      .withColumn("k", get_json_object(col("raw"), "$.k").cast("long"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("k").isNull, 1L).otherwise(0L)).as("n_deadletter"),
        sum(col("k")).as("sum_k"))
      .orderBy(col("event_type"))

  val q21Sql: String =
    """WITH r AS (SELECT event_type,
         CASE WHEN event_id % 7 = 0 THEN substr(props, 3) ELSE props END AS raw
         FROM events),
       p AS (SELECT event_type,
         CASE WHEN json_valid(raw) THEN CAST(raw->>'k' AS BIGINT) END AS k
         FROM r)
       SELECT event_type, count(*) AS n,
              CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_deadletter,
              CAST(sum(k) AS BIGINT) AS sum_k
       FROM p GROUP BY event_type ORDER BY event_type"""

  /** S6 faithful form: Glacier restore-header parsing
    * (s3.rb:428-444) — a synthesized `restore` header per row covering
    * the reference's FULL accepted surface (its regexes tolerate
    * optional spaces around `=` and single or double quotes, s3.rb:431,
    * and Ruby DateTime.parse accepts the AWS-native HTTP-date expiry):
    * rows alternate quote/space style by event_id parity and every 5th
    * row carries an HTTP-date expiry. Parsing goes through the REAL
    * pipeline helpers (Discover.restoreOngoing / restoreExpiry), so the
    * oracle verifies the production parse bit-for-bit. Eligible =
    * restore complete AND unexpired at the injected clock.
    */
  def q22(spark: SparkSession, dir: String): DataFrame = {
    val asOf = "2024-01-04 00:00:00"
    val ongoing =
      when(col("event_id") % 3 === 0, lit("true")).otherwise(lit("false"))
    val expiryTxt = when(col("event_id") % 5 === 0,
      date_format(col("ts") + expr("INTERVAL 2 DAYS"),
        "EEE, dd MMM yyyy HH:mm:ss 'GMT'"))
      .otherwise(date_format(col("ts") + expr("INTERVAL 2 DAYS"),
        "yyyy-MM-dd HH:mm:ss"))
    val hdr = when(col("event_id") % 2 === 0,
      concat(lit("ongoing-request=\""), ongoing,
        lit("\", expiry-date=\""), expiryTxt, lit("\"")))
      .otherwise(concat(lit("ongoing-request = '"), ongoing,
        lit("', expiry-date = '"), expiryTxt, lit("'")))
    t(spark, dir, "events")
      .withColumn("restore", hdr)
      .withColumn("ongoing",
        graft.pipeline.Discover.restoreOngoing(col("restore")))
      .withColumn("expiry",
        graft.pipeline.Discover.restoreExpiry(col("restore")))
      .withColumn("restored",
        col("ongoing") === "false" &&
          col("expiry") > lit(asOf).cast("timestamp"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("restored"), 1L).otherwise(0L)).as("n_restored"))
      .orderBy(col("event_type"))
  }

  val q22Sql: String =
    """WITH b AS (SELECT event_type, event_id,
         CASE WHEN event_id % 3 = 0 THEN 'true' ELSE 'false' END AS og,
         CASE WHEN event_id % 5 = 0
              THEN strftime(ts + INTERVAL 2 DAY, '%a, %d %b %Y %H:%M:%S GMT')
              ELSE strftime(ts + INTERVAL 2 DAY, '%Y-%m-%d %H:%M:%S') END AS ex
         FROM events),
       r AS (SELECT event_type,
         CASE WHEN event_id % 2 = 0
              THEN 'ongoing-request="' || og || '", expiry-date="' || ex || '"'
              ELSE 'ongoing-request = ''' || og || ''', expiry-date = ''' || ex || ''''
         END AS restore
         FROM b),
       p AS (SELECT event_type,
         regexp_extract(restore, 'ongoing-request\s?=\s?["'']([a-zA-Z0-9_]+)["'']', 1) AS ongoing,
         regexp_extract(restore, 'expiry-date\s?=\s?["'']([^"'']+)["'']', 1) AS raw
         FROM r),
       e AS (SELECT event_type, ongoing,
         COALESCE(TRY_CAST(raw AS TIMESTAMP),
           try_strptime(regexp_extract(raw,
             '^[A-Za-z]{3}, (\d{1,2} [A-Za-z]{3} \d{4} \d{2}:\d{2}:\d{2}) GMT$', 1),
             '%d %b %Y %H:%M:%S')) AS expiry
         FROM p)
       SELECT event_type, count(*) AS n,
         CAST(sum(CASE WHEN ongoing = 'false'
              AND expiry > TIMESTAMP '2024-01-04 00:00:00'
              THEN 1 ELSE 0 END) AS BIGINT) AS n_restored
       FROM e GROUP BY event_type ORDER BY event_type"""

  /** P3 configurable form: the multiline codec's `pattern`/`negate`/
    * `what` surface (spec:486) with the `what=next` semantics — a line
    * whose props match the pattern glues to the FOLLOWING line, so the
    * record boundary depends on the PREVIOUS row's match (one chunked
    * prefix scan: a row's record id is 1 + the non-belonging rows before
    * it; see Parse.sessionizeConfigured / PrefixOps.scanMany).
    */
  def q23(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    graft.pipeline.Parse.sessionizeConfigured(ev,
        graft.pipeline.Parse.MultilineConfig("\"k\": [1-4]",
          negate = false, what = "next"),
        chunkSize = 1024, convCol = "user_id", idxCol = "event_id",
        textCol = "props")
      .groupBy(col("user_id"), col("session_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("event_id")).as("first_event"),
        max(col("event_id")).as("last_event"))
      .orderBy(col("user_id"), col("session_id"))
  }

  val q23Sql: String =
    """WITH b AS (
         SELECT user_id, event_id,
                regexp_matches(props, '"k": [1-4]') AS belongs
         FROM events),
       l AS (
         SELECT user_id, event_id,
                COALESCE(lag(belongs) OVER
                  (PARTITION BY user_id ORDER BY event_id), false) AS prev_b
         FROM b),
       s AS (
         SELECT user_id, event_id,
                CAST(SUM(CASE WHEN prev_b THEN 0 ELSE 1 END)
                  OVER (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
                  AS session_id
         FROM l)
       SELECT user_id, session_id, count(*) AS n_events,
              min(event_id) AS first_event, max(event_id) AS last_event
       FROM s GROUP BY user_id, session_id ORDER BY user_id, session_id"""

  /** P2 pipeline form: the JSON codec as a Parse stage
    * (Parse.parseJsonColumns) — field promotion, corrupt routing and the
    * non-string-message passthrough (spec:397-441), over JSON documents
    * constructed deterministically from events in both engines.
    */
  def q24(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.types._
    val ev = t(spark, dir, "events")
      .withColumn("text",
        when(col("event_id") % 7 === 0,
          concat(lit("@@"), col("event_type"))) // corrupt
          .when(col("event_id") % 13 === 0,
            concat(lit("{\"message\": [\"GET\","), col("event_id"),
              lit(",\"/health\"], \"tag\": \""), col("event_type"),
              lit("\"}"))) // non-string message
          .otherwise(concat(lit("{\"message\": \"evt "), col("event_id"),
            lit("\", \"tag\": \""), col("event_type"), lit("\"}"))))
    val fields = StructType(Seq(
      StructField("message", StringType), StructField("tag", StringType)))
    graft.pipeline.Parse.parseJsonColumns(ev, fields)
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(!col("json_ok"), 1L).otherwise(0L)).as("n_deadletter"),
        sum(when(col("json_ok") &&
          !col("json_message").startsWith("evt "), 1L).otherwise(0L))
          .as("n_passthrough"),
        count(col("json_tag")).as("n_tagged"))
      .orderBy(col("event_type"))
  }

  val q24Sql: String =
    """WITH x AS (SELECT event_type,
         CASE WHEN event_id % 7 = 0 THEN '@@' || event_type
              WHEN event_id % 13 = 0 THEN '{"message": ["GET",' || event_id ||
                   ',"/health"], "tag": "' || event_type || '"}'
              ELSE '{"message": "evt ' || event_id || '", "tag": "' ||
                   event_type || '"}' END AS text
         FROM events),
       p AS (SELECT event_type, json_valid(text) AS ok,
         CASE WHEN json_valid(text) THEN text->>'$.message' END AS msg,
         CASE WHEN json_valid(text) THEN text->>'$.tag' END AS tag
         FROM x)
       SELECT event_type, count(*) AS n,
         CAST(sum(CASE WHEN NOT ok THEN 1 ELSE 0 END) AS BIGINT) AS n_deadletter,
         CAST(sum(CASE WHEN ok AND NOT starts_with(msg, 'evt ')
              THEN 1 ELSE 0 END) AS BIGINT) AS n_passthrough,
         count(tag) AS n_tagged
       FROM p GROUP BY event_type ORDER BY event_type"""

  /** §2.4 depth: exact interpolated percentiles per group (Spark
    * `percentile` == DuckDB `quantile_cont`, both (n-1)p linear
    * interpolation). At 100 TB the same query swaps in
    * `percentile_approx` (single-pass t-digest-style sketch, no sort) —
    * the exact form here is the oracle-checkable correctness anchor.
    */
  def q25(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .groupBy(col("event_type"))
      .agg(
        round(expr("percentile(value, 0.5)"), 6).as("p50"),
        round(expr("percentile(value, 0.95)"), 6).as("p95"),
        round(expr("percentile(value, 0.99)"), 6).as("p99"),
        count(lit(1)).as("n"))
      .orderBy(col("event_type"))

  val q25Sql: String =
    """SELECT event_type,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.95), 6) AS p95,
       round(quantile_cont(value, 0.99), 6) AS p99,
       count(*) AS n
       FROM events GROUP BY event_type ORDER BY event_type"""

  /** TPC-H Q1-ish flagship aggregate. */
  def q01(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n_rows"),
        round(sum(col("l_quantity")), 2).as("sum_qty"),
        round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4)
          .as("revenue"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q01Sql: String =
    """SELECT l_returnflag, l_linestatus, count(*) AS n_rows,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
       FROM lineitem GROUP BY 1, 2 ORDER BY 1, 2"""

  // ---------------------------------------------------------------- //
  // Training-data ops over `documents` / `embeddings`                 //
  // ---------------------------------------------------------------- //

  /** Exact dedup: normalized-md5 fingerprint cardinality per source. */
  def d01(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(TextAnalysis.fingerprint(col("text"))).as("n_distinct"))
      .orderBy(col("source"))

  val d01Sql: String =
    """SELECT source, count(*) AS n_docs,
       count(DISTINCT md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g')))) AS n_distinct
       FROM documents GROUP BY source ORDER BY source"""

  /** Token counting. */
  def d02(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"),
        TextAnalysis.tokenCount(col("text")).cast("long").as("n_tokens"))
      .orderBy(col("doc_id"))

  val d02Sql: String =
    """SELECT doc_id,
       CAST(CASE WHEN trim(text) = '' THEN 0
            ELSE len(regexp_split_to_array(trim(text), '\s+')) END
            AS BIGINT) AS n_tokens
       FROM documents ORDER BY doc_id"""

  /** Quality-score features. */
  def d03(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.qualityFeatures(t(spark, dir, "documents"))
      .select(col("doc_id"), col("n_tokens").cast("long").as("n_tokens"),
        col("n_punct").cast("long").as("n_punct"),
        col("stopword_hits").cast("long").as("stopword_hits"),
        col("mean_token_len_x1000"), col("quality_ok"))
      .orderBy(col("doc_id"))

  val d03Sql: String =
    """WITH t AS (SELECT doc_id, trim(text) AS tt,
           regexp_split_to_array(trim(text), '\s+') AS w FROM documents)
       SELECT doc_id,
         CAST(CASE WHEN tt = '' THEN 0 ELSE len(w) END AS BIGINT)
           AS n_tokens,
         CAST(length(tt) - length(regexp_replace(tt, '[[:punct:]]', '', 'g')) AS BIGINT) AS n_punct,
         CAST(len(list_filter(w, x -> x IN ('the','a','of','and'))) AS BIGINT) AS stopword_hits,
         CAST(floor((length(tt) - (len(w) - 1)) * 1000.0 / len(w)) AS BIGINT) AS mean_token_len_x1000,
         (len(w) >= 5 AND len(w) <= 100000 AND
          len(list_filter(w, x -> x IN ('the','a','of','and'))) > 0) AS quality_ok
       FROM t ORDER BY doc_id"""

  /** Language-ID by marker voting. */
  def d04(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.langIdColumns(t(spark, dir, "documents"))
      .groupBy(col("lang"), col("lang_pred"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("lang"), col("lang_pred"))

  val d04Sql: String = {
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val scoreCols = langs.map { l =>
      val markers = TextAnalysis.langMarkers(l)
        .map(m => s"'$m'").mkString(", ")
      s"CAST(len(list_filter(w, x -> x IN ($markers))) AS BIGINT) AS s_$l"
    }.mkString(",\n         ")
    // mirror of the Scala fold: earliest lang (sorted) with the max score
    val greatest = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseChain = langs.map(l => s"WHEN s_$l = g THEN '$l'")
      .mkString(" ")
    s"""WITH t AS (SELECT doc_id, lang,
           regexp_split_to_array(trim(text), '\\s+') AS w FROM documents),
       s AS (SELECT doc_id, lang, $scoreCols FROM t),
       p AS (SELECT doc_id, lang, $greatest AS g,
             ${langs.map("s_" + _).mkString(", ")} FROM s)
       SELECT lang, CASE WHEN g <= 0 THEN 'und' $caseChain END AS lang_pred,
              count(*) AS n
       FROM p GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** Document fingerprint (normalized md5). */
  def d05(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .select(col("doc_id"), TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val d05Sql: String =
    """SELECT doc_id, md5(lower(regexp_replace(trim(text), '\s+', ' ', 'g'))) AS fp
       FROM documents ORDER BY doc_id"""

  /** n-gram Jaccard between same-source doc pairs (integer outputs). */
  def d06(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents").filter(col("doc_id") < 60)
    val pairs = docs.select(col("doc_id").as("id_a"), col("source").as("s_a"))
      .join(docs.select(col("doc_id").as("id_b"), col("source").as("s_b")),
        col("s_a") === col("s_b") && col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"))
    Dedup.jaccardForPairs(docs, pairs, "doc_id", "text", 3)
      .select(col("id_a"), col("id_b"),
        col("inter").cast("long").as("inter"),
        col("union_").cast("long").as("union_"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val d06Sql: String =
    """WITH d AS (SELECT doc_id, source,
           regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM documents WHERE doc_id < 60),
       sh AS (SELECT DISTINCT doc_id,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
              FROM d, UNNEST(generate_series(1, len(w) - 2)) AS u(i)),
       -- derived from d (LEFT JOIN), not sh: a doc with < 3 tokens has
       -- ZERO shingles and no sh row, but its pairs still exist on the
       -- Spark side (jaccardForPairs emits inter=0, union_=|other|) —
       -- an inner join here would silently drop them
       sizes AS (SELECT d.doc_id, count(sh.s) AS n FROM d
                 LEFT JOIN sh ON sh.doc_id = d.doc_id GROUP BY d.doc_id),
       pairs AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b
                 FROM d a JOIN d b ON a.source = b.source
                  AND a.doc_id < b.doc_id),
       inter AS (SELECT p.id_a, p.id_b, count(*) AS i
                 FROM pairs p
                 JOIN sh sa ON sa.doc_id = p.id_a
                 JOIN sh sb ON sb.doc_id = p.id_b AND sb.s = sa.s
                 GROUP BY p.id_a, p.id_b)
       SELECT p.id_a, p.id_b,
              CAST(COALESCE(i.i, 0) AS BIGINT) AS inter,
              CAST(na.n + nb.n - COALESCE(i.i, 0) AS BIGINT) AS union_
       FROM pairs p
       JOIN sizes na ON na.doc_id = p.id_a
       JOIN sizes nb ON nb.doc_id = p.id_b
       LEFT JOIN inter i ON i.id_a = p.id_a AND i.id_b = p.id_b
       ORDER BY p.id_a, p.id_b"""

  /** MinHash signatures (8 hashes over 3-shingles). */
  def d07(spark: SparkSession, dir: String): DataFrame =
    Dedup.minhashSignatures(
        t(spark, dir, "documents").filter(col("doc_id") < 50),
        "doc_id", "text", 3, 8)
      .orderBy(col("doc_id"))

  val d07Sql: String = {
    // mirror of Dedup.minhashSignatures: hash i = hex slice [1+4i, 4) of
    // ONE md5 per shingle (the DISTINCT is harmless: min is idempotent)
    val mins = (0 until 8)
      .map(i => s"min(substr(md5(s), ${1 + 4 * i}, 4)) AS mh$i")
      .mkString(",\n              ")
    s"""WITH d AS (SELECT doc_id,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS w
           FROM documents WHERE doc_id < 50),
       sh AS (SELECT DISTINCT doc_id,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
              FROM d, UNNEST(generate_series(1, len(w) - 2)) AS u(i))
       SELECT doc_id, $mins
       FROM sh GROUP BY doc_id ORDER BY doc_id"""
  }

  /** MinHash-LSH candidate pairs (band bucket join, no all-pairs). */
  def d08(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minhashSignatures(t(spark, dir, "documents"),
      "doc_id", "text", 3, 8)
    Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "doc_id", 8, 2), "doc_id")
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  /** The MinHash-LSH candidate-pair CTE chain (through `pairs`) over a
    * given document relation — shared verbatim by the d08 oracle, the
    * d18 cluster-resolution oracle and the d19 curated-corpus oracle so
    * the three can never disagree on the pair set.
    */
  private def lshPairCtes(docsRel: String = "documents"): String = {
    val mins = (0 until 8)
      .map(i => s"min(substr(md5(s), ${1 + 4 * i}, 4)) AS mh$i")
      .mkString(", ")
    val bandSelects = (0 until 4)
      .map(b => s"SELECT doc_id, $b AS band, mh${2 * b} || mh${2 * b + 1} AS sig FROM mh")
      .mkString(" UNION ALL ")
    s"""d AS (SELECT doc_id,
           regexp_split_to_array(lower(trim(text)), '\\s+') AS w FROM $docsRel),
       sh AS (SELECT DISTINCT doc_id,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
              FROM d, UNNEST(generate_series(1, len(w) - 2)) AS u(i)),
       mh AS (SELECT doc_id, $mins FROM sh GROUP BY doc_id),
       bands AS ($bandSelects),
       sizes AS (SELECT band, sig, count(*) AS n FROM bands
                 GROUP BY band, sig HAVING count(*) > 1 AND count(*) <= 1000),
       pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
         FROM bands a
         JOIN sizes sz ON sz.band = a.band AND sz.sig = a.sig
         JOIN bands b ON b.band = a.band AND b.sig = a.sig
          AND a.doc_id < b.doc_id)"""
  }

  val d08Sql: String =
    s"""WITH ${lshPairCtes()}
       SELECT id_a, id_b FROM pairs ORDER BY id_a, id_b"""

  /** Near-dup cluster resolution (d18): fold the LSH candidate pairs
    * into connected components (min-label propagation, Dedup
    * .resolveClusters) and keep one survivor per cluster — the
    * transitive-closure step after any pair-emitting near-dup op
    * (A~B, B~C with A!~C must collapse to ONE cluster). The oracle
    * replays it as a DuckDB recursive reachability query: cluster_id =
    * min id reachable in the undirected pair graph.
    */
  def d18(spark: SparkSession, dir: String): DataFrame = {
    val sigs = Dedup.minhashSignatures(t(spark, dir, "documents"),
      "doc_id", "text", 3, 8)
    val pairs = Dedup.lshCandidatePairs(
      Dedup.lshBands(sigs, "doc_id", 8, 2), "doc_id")
    Dedup.resolveClusters(pairs)
      .select(col("id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cluster_id"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** The undirected-reachability CTEs over `pairs` (shared by d18/d19):
    * cluster label = min id reachable in the pair graph.
    */
  private val reachCtes: String =
    """edges AS (SELECT id_a AS src, id_b AS dst FROM pairs
                 UNION SELECT id_b, id_a FROM pairs),
       nodes AS (SELECT DISTINCT src AS id FROM edges),
       reach(id, r) AS (
         SELECT id, id FROM nodes
         UNION
         SELECT reach.id, e.dst FROM reach JOIN edges e ON e.src = reach.r)"""

  val d18Sql: String =
    s"""WITH RECURSIVE ${lshPairCtes()},
       $reachCtes
       SELECT id AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id,
              min(r) = id AS keep
       FROM reach GROUP BY id ORDER BY doc_id"""

  /** End-to-end curated-corpus materialization (d19): exact dedup
    * (survivor = min doc_id per normalized fingerprint) -> MinHash-LSH
    * pairs over the SURVIVORS -> cluster resolution -> drop near-dup
    * non-survivors -> per-source census of what remains. This is the
    * full "apply the dedup" pass a training-corpus build runs; every
    * stage is the same operator its standalone query verifies
    * (d01/d08/d18), composed.
    */
  def d19(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    // consumed twice (signature chain + final anti-join census);
    // materialized once — within-query only, recomputed from parquet
    // every invocation
    val exact = Dedup.dropExactDups(docs, "doc_id", "text")
      .localCheckpoint(true)
    val sigs = Dedup.minhashSignatures(exact, "doc_id", "text", 3, 8)
    val drop = Dedup.resolveClusters(
        Dedup.lshCandidatePairs(Dedup.lshBands(sigs, "doc_id", 8, 2),
          "doc_id"))
      .filter(!col("keep"))
      .select(col("id").cast("long").as("doc_id"))
    exact.join(drop, Seq("doc_id"), "left_anti")
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("doc_id")).as("id_checksum"))
      .orderBy(col("source"))
  }

  val d19Sql: String =
    s"""WITH RECURSIVE k AS (SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))),
       dd AS (SELECT d0.* FROM documents d0 JOIN k USING (doc_id)),
       ${lshPairCtes("dd")},
       $reachCtes,
       lbl AS (SELECT id, min(r) AS cluster_id FROM reach GROUP BY id),
       dropids AS (SELECT id FROM lbl WHERE cluster_id <> id)
       SELECT source, count(*) AS n_docs,
              CAST(sum(doc_id) AS BIGINT) AS id_checksum
       FROM dd WHERE doc_id NOT IN (SELECT id FROM dropids)
       GROUP BY source ORDER BY source"""

  /** Cross-cycle dedup replay (d20): the engine's opt-in dedup stage
    * (Main.runCycle -> Dedup.reRouteSeen) over a two-cycle split of the
    * constructed transcript — cycle 1 = even turn_idx, cycle 2 = odd.
    * A deterministic subset (turn_idx % 13 == 0) shares ONE boilerplate
    * text across both cycles, so cycle 2's copies must re-route to the
    * `duplicate` sink (visible, never dropped) while its novel rows
    * keep their content sinks. The oracle replays the split + the
    * fingerprint membership join in SQL over the same text rewrite.
    */
  def d20(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline._
    val boiler = "2026-01-01T00:00:00Z INFO [user] boilerplate greeting"
    val base = eventsAsTurns(spark, dir)
      .withColumn("text",
        when(col("turn_idx") % 13 === 0, lit(boiler)).otherwise(col("text")))
    def cycle(par: Int) =
      Pipeline(base.filter(col("turn_idx") % 2 === par).as[Turn],
        excludePattern = "\"k\": 8\\d")
    val seen = cycle(0).filter(col("sink").isin(Route.contentSinks: _*))
      .select(graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"))
    graft.ops.Dedup.reRouteSeen(cycle(1), seen,
        Route.contentSinks, Route.duplicateSink)
      .groupBy(col("sink")).agg(count(lit(1)).as("n_turns"))
      .orderBy(col("sink"))
  }

  // lazy: pipelineSqlSource/pipelineSqlRoute are declared further down
  // the file (next to the p-queries they also serve)
  lazy val d20Sql: String = {
    val contentIn = "('user','assistant','tool','system','other')"
    val fp = "md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))"
    pipelineSqlSource + ",\n       " +
      """x2 AS (SELECT * REPLACE (CASE WHEN event_id % 13 = 0
           THEN '2026-01-01T00:00:00Z INFO [user] boilerplate greeting'
           ELSE text END AS text) FROM x),
       """ + pipelineSqlRoute("x2") + s""",
       c1fp AS (SELECT DISTINCT $fp AS fp FROM r
                WHERE event_id % 2 = 0 AND sink IN $contentIn),
       c2 AS (SELECT CASE WHEN sink IN $contentIn
                AND $fp IN (SELECT fp FROM c1fp)
              THEN 'duplicate' ELSE sink END AS sink
              FROM r WHERE event_id % 2 = 1)
       SELECT sink, count(*) AS n_turns FROM c2 GROUP BY sink ORDER BY sink"""
  }

  /** Incremental MinHash-LSH (d21): candidate pairs for NEWLY ingested
    * documents (doc_id >= 250) against a persisted band state built
    * from the prior corpus (doc_id < 250) — `Dedup.incrementalLshPairs`
    * touches the stored side only through one (band, sig) join, never
    * re-shingling it. The result is EXACTLY the full-corpus pair set
    * restricted to pairs involving a new doc, which is precisely what
    * the oracle replays (the shared lshPairCtes chain + the
    * restriction) — so the incremental path can never drift from the
    * batch path.
    */
  def d21(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    def bandsOf(df: DataFrame) = Dedup.lshBands(
      Dedup.minhashSignatures(df, "doc_id", "text", 3, 8), "doc_id", 8, 2)
    val stored = bandsOf(docs.filter(col("doc_id") < 250))
    val incoming = bandsOf(docs.filter(col("doc_id") >= 250))
    Dedup.incrementalLshPairs(stored, incoming, "doc_id")
      .select(col("id_a").cast("long").as("id_a"),
        col("id_b").cast("long").as("id_b"))
      .orderBy(col("id_a"), col("id_b"))
  }

  val d21Sql: String =
    s"""WITH ${lshPairCtes()}
       SELECT id_a, id_b FROM pairs
       WHERE id_a >= 250 OR id_b >= 250 ORDER BY id_a, id_b"""

  /** Incremental cluster maintenance (d23): the d21 ingest split taken
    * all the way to labels — resolve clusters over the OLD corpus's
    * pairs, then fold the incremental batch's pairs in with
    * [[Dedup.mergeClusters]] (star-edge contraction over the resolved
    * labels + the new pairs — the historical pair set is never
    * re-read). Because old-pairs ∪ incremental-pairs is EXACTLY the
    * full-corpus pair set (d21's proven restriction), the merged
    * labels must equal a from-scratch resolution over the full graph —
    * which is precisely what the oracle derives independently: DuckDB
    * recursive reachability over the full-corpus pair CTEs (the d18
    * oracle). The incremental path can therefore never drift from the
    * batch path without this query going red.
    */
  def d23(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    def bandsOf(df: DataFrame) = Dedup.lshBands(
      Dedup.minhashSignatures(df, "doc_id", "text", 3, 8), "doc_id", 8, 2)
    // The stored-half bands feed both the historical pair derivation
    // and the incremental join; they are materialized ONCE with an
    // eager localCheckpoint. (History: a round-6 A/B measured .persist()
    // here as a net LOSS, 15.6 s vs 14.3 — but that verdict predates
    // the r9 narrow signature chain: back then recomputing meant a
    // cheap re-read of an already-shuffled aggregate, while the
    // InMemoryRelation broke codegen fusion. With signatures now
    // derived narrowly per row, an r9 A/B measured checkpoint-once as
    // the WIN. The production path reads bands from the `_bands` store
    // and never recomputes them at all.)
    val stored = bandsOf(docs.filter(col("doc_id") < 250))
      .localCheckpoint(true)
    val incoming = bandsOf(docs.filter(col("doc_id") >= 250))
    val oldPairs = Dedup.lshCandidatePairs(stored, "doc_id")
    val newPairs = Dedup.incrementalLshPairs(stored, incoming, "doc_id")
    val base = Dedup.resolveClusters(oldPairs)
    val merged = Dedup.mergeClusters(base, newPairs)
    merged.labels
      .select(col("id").cast("long").as("doc_id"),
        col("cluster_id").cast("long").as("cluster_id"), col("keep"))
      .orderBy(col("doc_id"))
  }

  /** Reachability over the FULL pair graph — the d18 oracle verbatim:
    * the incremental two-step derivation must land on the same labels.
    */
  val d23Sql: String = d18Sql

  /** REAL-vocab BPE token counts (d22): per DISTINCT corpus word, its
    * occurrence count and its BPE token count under the 47,952-merge
    * generated layered table ([[graft.ops.Bpe.realVocab]] — GPT-2
    * scale). The Spark side tokenizes each distinct word ONCE with the
    * native codegen'd ranks-map expression
    * ([[graft.functions.BpeTokenCount]]) and joins back (the
    * Zipf-shaped production plan); the oracle derives the SAME table
    * independently from its (charset, layering) definition —
    * generative CTEs, not a 48k-row transcription — and replays
    * TEXTBOOK BPE (lowest-rank pair present, leftmost occurrence, one
    * merge per recursive step until fixpoint) via a recursive CTE. The
    * demo-vocab pure-Catalyst fold keeps its own three-way OpsSpec
    * equivalence (fold == native == textbook).
    */
  def d22(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val words = docs.select(
      explode(graft.ops.Bpe.normalizeWords(col("text"))).as("word"))
    words.groupBy(col("word"))
      .agg(count(lit(1)).as("n_occurrences"))
      .withColumn("n_bpe_tokens",
        graft.functions.BpeExprs.bpeTokenCount(col("word"),
          graft.ops.Bpe.realVocab).cast("long"))
      .orderBy(col("word"))
  }

  val d22Sql: String =
    s"""WITH RECURSIVE
       ${graft.ops.Bpe.layeredMergesSqlCtes()},
       words0 AS (SELECT unnest(string_split(
           regexp_replace(lower(trim(text)), '[^a-z0-9 ]', ' ', 'g'),
           ' ')) AS word FROM documents),
       words AS (SELECT word, count(*) AS n_occ FROM words0
                 WHERE word <> '' GROUP BY word),
       ${graft.ops.Bpe.textbookReplayCtes("words")}
       SELECT words.word, words.n_occ AS n_occurrences,
              length(f.st) - length(replace(f.st, ' ', '')) - 1
                AS n_bpe_tokens
       FROM words JOIN final f ON f.w = words.word
       ORDER BY words.word"""

  /** The d24 LM table: fixed-point log-probs (x1e6) over the documents
    * vocabulary — unigrams plus a handful of bigrams, so every backoff
    * branch (bigram hit / penalized unigram / OOV floor) fires on real
    * corpus rows. ONE literal list generates both the broadcast
    * DataFrame and the oracle's VALUES clause, so the two engines
    * cannot drift. (A production table would arrive as a KenLM-derived
    * artifact; integer log-probs are the same discipline as the kmeans
    * rounded means.)
    */
  val d24Lm: Seq[(String, Long)] = Seq(
    // unigrams
    "table" -> -1200000L, "join" -> -1500000L, "row" -> -1600000L,
    "scan" -> -1700000L, "data" -> -1800000L, "the" -> -2000000L,
    "a" -> -2100000L, "value" -> -2200000L, "hash" -> -2300000L,
    "batch" -> -2400000L, "window" -> -2450000L, "query" -> -2500000L,
    // bigrams
    "a a" -> -800000L, "batch batch" -> -700000L,
    "table table" -> -900000L, "the table" -> -1000000L,
    "join batch" -> -1100000L, "value table" -> -1250000L,
    "fast table" -> -1300000L, "scan query" -> -1350000L)

  /** N-gram LM perplexity scoring (d24): per-document average
    * log-probability under a broadcast bigram table with stupid
    * backoff ([[TextAnalysis.lmScore]]) — the trained-signal quality
    * filter next to the d03/d13 heuristics. The corpus is exploded to
    * its token stream, scored via two BROADCAST joins (never shuffled
    * on its own size), and folded back to one row per document; the
    * oracle replays the identical backoff rule in SQL from the same
    * literal table.
    */
  def d24(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val lm = d24Lm.toDF("gram", "logp_x1e6")
    TextAnalysis.lmScore(t(spark, dir, "documents"), lm)
      .orderBy(col("doc_id"))
  }

  val d24Sql: String = {
    val values = d24Lm
      .map { case (g, lp) => s"('$g', ${lp})" }.mkString(", ")
    s"""WITH lm(gram, logp) AS (VALUES $values),
       t AS (SELECT doc_id,
             regexp_split_to_array(trim(text), '\\s+') AS w
             FROM documents WHERE trim(text) <> ''),
       g AS (SELECT doc_id, i,
             w[i] AS tok,
             CASE WHEN i > 1 THEN w[i-1] || ' ' || w[i] END AS bg
             FROM t, UNNEST(generate_series(1, len(w))) AS u(i)),
       s AS (SELECT g.doc_id,
             CASE WHEN g.i = 1 THEN COALESCE(u.logp, -18000000)
                  ELSE COALESCE(b.logp, u.logp + -2500000, -18000000)
             END AS lp
             FROM g LEFT JOIN lm b ON b.gram = g.bg
                    LEFT JOIN lm u ON u.gram = g.tok)
       SELECT doc_id, count(*) AS n_scored,
              CAST(sum(lp) AS BIGINT) AS sum_logp_x1e6,
              CAST(floor(sum(lp) * 1.0 / count(*)) AS BIGINT)
                AS avg_logp_x1e6,
              floor(sum(lp) * 1.0 / count(*)) >= -12000000 AS lm_ok
       FROM s GROUP BY doc_id ORDER BY doc_id"""
  }

  /** 16-bit SimHash per doc. */
  def d09(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(col("doc_id") < 200)
      .select(col("doc_id"), Dedup.simhash16(col("text")).as("simhash"))
      .orderBy(col("doc_id"))

  val d09Sql: String = {
    val votes = (0 until 16).map { i =>
      s"""SUM(CASE WHEN (strpos('0123456789abcdef', substr(md5(tk), ${i + 1}, 1)) - 1) % 2 = 1
          THEN 1 ELSE -1 END) AS v$i"""
    }.mkString(",\n           ")
    val bits = (0 until 16)
      .map(i => s"(CASE WHEN v$i > 0 THEN ${1L << i} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 200),
       tok AS (SELECT DISTINCT doc_id, tk FROM d,
               UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) AS u(tk)),
       votes AS (SELECT doc_id,
           $votes
           FROM tok GROUP BY doc_id)
       SELECT doc_id, CAST($bits AS BIGINT) AS simhash
       FROM votes ORDER BY doc_id"""
  }

  /** Rolling-hash (winnowing-lite) fingerprints; duplicate texts share
    * fingerprints, near-dups usually do.
    */
  def d10(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents").filter(col("doc_id") < 500)
      .select(col("doc_id"),
        TextAnalysis.rollingFingerprint(col("text"), 16).as("fp"))
      .orderBy(col("doc_id"))

  val d10Sql: String =
    """WITH d AS (SELECT doc_id, lower(trim(text)) AS t
           FROM documents WHERE doc_id < 500),
       w AS (SELECT doc_id, substr(t, i, 16) AS win
             FROM d, UNNEST(generate_series(1, greatest(length(t) - 15, 1))) u(i))
       SELECT doc_id, min(substr(md5(win), 1, 8)) AS fp
       FROM w GROUP BY doc_id ORDER BY doc_id"""

  /** Brute-force cosine top-10 vs the vec_id=0 embedding (float64
    * accumulation; ordered by the ROUNDED score so selection is
    * engine-independent).
    */
  def e01(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query: Seq[Double] = emb.filter(col("vec_id") === 0)
      .head().getSeq[Float](1).map(_.toDouble)
    emb.select(col("vec_id"),
        round(Similarity.cosineWithLiteral(col("embedding"), query), 6)
          .as("cosine"))
      .orderBy(col("cosine").desc, col("vec_id"))
      .limit(10)
  }

  val e01Sql: String =
    """WITH qe AS (SELECT generate_subscripts(embedding, 1) AS i,
           unnest(embedding) AS v FROM embeddings WHERE vec_id = 0),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           unnest(embedding) AS v FROM embeddings),
       nq AS (SELECT sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM qe),
       dots AS (SELECT be.vec_id, sum(be.v::DOUBLE * qe.v::DOUBLE) AS d,
                sqrt(sum(be.v::DOUBLE * be.v::DOUBLE)) AS nb
                FROM be JOIN qe ON be.i = qe.i GROUP BY be.vec_id)
       SELECT vec_id, round(d / (nb * nq.n), 6) AS cosine
       FROM dots, nq ORDER BY cosine DESC, vec_id LIMIT 10"""

  /** Sign-random-projection LSH parameters shared by e02/e03 (declared
    * before first use — object vals initialize in order).
    */
  val lshPlanes = 8
  val lshDims = 64

  /** Embedding-cosine near-dup pairs among vec_id < 300 — the
    * LSH-bucketed library op ([[Similarity.cosineNearDupPairs]]): pairs
    * form ONLY within a sign-random-projection bucket (no all-pairs /
    * cartesian join anywhere in the plan — PlanSpec pins that), then are
    * verified by exact cosine. Recall is governed by nPlanes (4 here);
    * the oracle applies the IDENTICAL bucket constraint, so approximate
    * recall is still exact-checkable.
    */
  val e02Planes = 4

  def e02(spark: SparkSession, dir: String): DataFrame = {
    val e = tp(spark, dir, "embeddings").filter(col("vec_id") < 300)
      .select(col("vec_id"), col("embedding"))
    Similarity.cosineNearDupPairs(e, "vec_id", "embedding",
        dims = lshDims, threshold = 0.35, nPlanes = e02Planes,
        maxBucket = 10000, scoreRound = 6)
      .orderBy(col("id_a"), col("id_b"))
  }

  val e02Sql: String = {
    val planeRows = (0 until lshDims).map { d =>
      val comps = (0 until e02Planes)
        .map(p => Similarity.planeComponent(p, d).toString)
        .mkString(", ")
      s"(${d + 1}, $comps)"
    }.mkString(",\n         ")
    val dotCols = (0 until e02Planes)
      .map(p => s"sum(v::DOUBLE * p$p) AS d$p").mkString(", ")
    val bucketExpr = (0 until e02Planes)
      .map(p => s"(CASE WHEN d$p >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH pl(i, ${(0 until e02Planes).map("p" + _).mkString(", ")}) AS (
         VALUES $planeRows),
       e AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           unnest(embedding) AS v FROM embeddings WHERE vec_id < 300),
       norms AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
                 FROM e GROUP BY vec_id),
       buckets AS (SELECT vec_id, $bucketExpr AS b
                   FROM (SELECT vec_id, $dotCols
                         FROM e JOIN pl ON e.i = pl.i GROUP BY vec_id)),
       dots AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                sum(a.v::DOUBLE * b.v::DOUBLE) AS d
                FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
                JOIN buckets ba ON ba.vec_id = a.vec_id
                JOIN buckets bb ON bb.vec_id = b.vec_id AND ba.b = bb.b
                GROUP BY 1, 2)
       SELECT id_a, id_b, round(d / (na.n * nb.n), 6) AS cosine
       FROM dots JOIN norms na ON na.vec_id = id_a
       JOIN norms nb ON nb.vec_id = id_b
       WHERE round(d / (na.n * nb.n), 6) >= 0.35
       ORDER BY id_a, id_b"""
  }

  /** Sign-random-projection LSH bucket per vector (deterministic md5-
    * derived hyperplanes, reproducible in any engine).
    */
  def e03(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "embeddings")
      .select(col("vec_id"),
        Similarity.lshBucket(col("embedding"), lshDims, lshPlanes)
          .as("bucket"))
      .orderBy(col("vec_id"))

  val e03Sql: String = {
    val planeRows = (0 until lshDims).map { d =>
      val comps = (0 until lshPlanes)
        .map(p => Similarity.planeComponent(p, d).toString)
        .mkString(", ")
      s"(${d + 1}, $comps)"
    }.mkString(",\n         ")
    val dotCols = (0 until lshPlanes)
      .map(p => s"sum(v::DOUBLE * p$p) AS d$p").mkString(", ")
    val bucketExpr = (0 until lshPlanes)
      .map(p => s"(CASE WHEN d$p >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH pl(i, ${(0 until lshPlanes).map("p" + _).mkString(", ")}) AS (
         VALUES $planeRows),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
       dots AS (SELECT vec_id, $dotCols
                FROM be JOIN pl ON be.i = pl.i GROUP BY vec_id)
       SELECT vec_id, CAST($bucketExpr AS BIGINT) AS bucket
       FROM dots ORDER BY vec_id"""
  }

  /** IVF assignment: nearest of 8 deterministic centroids (embeddings
    * of the 8 smallest vec_ids) per vector; cluster cardinalities.
    * Tie-break = (cosine, cid) lexicographic max, mirrored in the SQL.
    */
  def e04(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    // round-before-argmax: near-ties collapse to equal scores and break
    // by cid IDENTICALLY in Spark and the SQL oracle (the
    // kmeansPlusPlusSeeds discipline, now on assignment too)
    Similarity.ivfAssign(emb, "embedding", cents, roundDigits = 6)
      .groupBy(col("ivf_cluster"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("ivf_cluster"))
  }

  val e04Sql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           ORDER BY vec_id LIMIT 8),
       ce AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v FROM c),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
       cn AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM ce GROUP BY cid),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM be GROUP BY vec_id),
       dots AS (SELECT be.vec_id, ce.cid, sum(be.v::DOUBLE * ce.v::DOUBLE) AS d
                FROM be JOIN ce ON be.i = ce.i GROUP BY be.vec_id, ce.cid),
       scored AS (SELECT dots.vec_id, dots.cid,
                  row_number() OVER (PARTITION BY dots.vec_id
                    ORDER BY round(dots.d / (bn.n * cn.n), 6) DESC,
                             dots.cid DESC) AS rn
                  FROM dots JOIN bn ON bn.vec_id = dots.vec_id
                  JOIN cn ON cn.cid = dots.cid)
       SELECT cid AS ivf_cluster, count(*) AS n_vectors
       FROM scored WHERE rn = 1 GROUP BY cid ORDER BY cid"""

  /** IVF top-k search: scan only the query's nprobe nearest clusters.
    * The oracle replays the full chain in SQL: deterministic centroids
    * (8 smallest vec_ids) -> per-vector assignment (e04's tie-break) ->
    * probe selection (query = vec 42's embedding; top-3 centroids by
    * cosine, ties to lower cid — matching the Scala stable sort) ->
    * probe-pruned scan -> top-10.
    */
  def e05(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    val assigned = Similarity.ivfAssign(emb, "embedding", cents,
      roundDigits = 6)
    val query = emb.filter(col("vec_id") === 42)
      .head().getSeq[Float](1).map(_.toDouble)
    Similarity.ivfTopK(assigned, "vec_id", "embedding", cents, query,
      k = 10, nprobe = 3)
      .withColumn("cosine", round(col("cosine"), 6))
  }

  val e05Sql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           ORDER BY vec_id LIMIT 8),
       ce AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v FROM c),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
       cn AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM ce GROUP BY cid),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM be GROUP BY vec_id),
       dots AS (SELECT be.vec_id, ce.cid, sum(be.v::DOUBLE * ce.v::DOUBLE) AS d
                FROM be JOIN ce ON be.i = ce.i GROUP BY be.vec_id, ce.cid),
       assigned AS (SELECT vec_id, cid FROM (
                  SELECT dots.vec_id, dots.cid,
                  row_number() OVER (PARTITION BY dots.vec_id
                    ORDER BY round(dots.d / (bn.n * cn.n), 6) DESC,
                             dots.cid DESC) AS rn
                  FROM dots JOIN bn ON bn.vec_id = dots.vec_id
                  JOIN cn ON cn.cid = dots.cid) WHERE rn = 1),
       qe AS (SELECT generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings WHERE vec_id = 42),
       qn AS (SELECT sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM qe),
       qc AS (SELECT ce.cid, sum(qe.v::DOUBLE * ce.v::DOUBLE) AS d
              FROM qe JOIN ce ON qe.i = ce.i GROUP BY ce.cid),
       probes AS (SELECT qc.cid FROM qc JOIN cn ON cn.cid = qc.cid, qn
                  ORDER BY qc.d / (qn.n * cn.n) DESC, qc.cid LIMIT 3),
       qd AS (SELECT be.vec_id, sum(be.v::DOUBLE * qe.v::DOUBLE) AS d
              FROM be JOIN qe ON be.i = qe.i GROUP BY be.vec_id)
       SELECT a.vec_id, round(qd.d / (bn.n * qn.n), 6) AS cosine
       FROM assigned a JOIN probes p ON p.cid = a.cid
       JOIN qd ON qd.vec_id = a.vec_id JOIN bn ON bn.vec_id = a.vec_id, qn
       ORDER BY qd.d / (bn.n * qn.n) DESC, a.vec_id LIMIT 10"""

  /** SimHash near-dup PAIRS within Hamming radius 3, via the native
    * 48-bit [[graft.functions.SimHashBits]] expression and band
    * bucketing ([[Dedup.simhashNearDupPairs]] — no all-pairs join). The
    * oracle recomputes the hash bit-for-bit from md5 hex digits, replays
    * the 4x12-bit banding, and verifies by bit_count(xor).
    */
  def d12(spark: SparkSession, dir: String): DataFrame =
    Dedup.simhashNearDupPairs(
        t(spark, dir, "documents").filter(col("doc_id") < 300),
        "doc_id", "text", nBits = 48, nBands = 4, maxHamming = 3)
      .orderBy(col("id_a"), col("id_b"))

  val d12Sql: String = {
    val nBits = 48
    val votes = (0 until nBits).map { j =>
      s"""SUM(CASE WHEN ((strpos('0123456789abcdef', substr(md5(tk), ${j / 4 + 1}, 1)) - 1 >> ${j % 4}) & 1) = 1
          THEN 1 ELSE -1 END) AS v$j"""
    }.mkString(",\n           ")
    val bits = (0 until nBits)
      .map(j => s"(CASE WHEN v$j > 0 THEN ${1L << j} ELSE 0 END)")
      .mkString(" + ")
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
       tok AS (SELECT DISTINCT doc_id, tk FROM d,
               UNNEST(regexp_split_to_array(lower(trim(text)), '\\s+')) u(tk)),
       votes AS (SELECT doc_id,
           $votes
           FROM tok GROUP BY doc_id),
       sh AS (SELECT doc_id, CAST($bits AS BIGINT) AS sh FROM votes),
       bands AS (SELECT doc_id, sh, b, (sh >> (b * 12)) & 4095 AS sig
                 FROM sh, UNNEST([0, 1, 2, 3]) t(b)),
       sizes AS (SELECT b, sig FROM bands GROUP BY b, sig
                 HAVING count(*) > 1 AND count(*) <= 1000),
       pairs AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(bit_count(xor(a.sh, b.sh)) AS BIGINT) AS hamming
                 FROM bands a
                 JOIN sizes s ON s.b = a.b AND s.sig = a.sig
                 JOIN bands b
                  ON a.b = b.b AND a.sig = b.sig AND a.doc_id < b.doc_id)
       SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= 3
       ORDER BY id_a, id_b"""
  }

  /** Multi-probe LSH approximate top-k ([[Similarity.lshTopK]]): scan
    * ONLY the query's bucket plus its Hamming-1 neighbors. The oracle
    * recomputes the buckets from the shared plane literals (e03's
    * technique), derives the query's probe set with xor, and replays the
    * pruned top-k — the recall-limited result is still exact-checkable
    * because both engines prune identically.
    */
  def e07(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val query = emb.filter(col("vec_id") === 42)
      .head().getSeq[Float](1).map(_.toDouble)
    Similarity.lshTopK(emb, "vec_id", "embedding", query, k = 10,
        nPlanes = lshPlanes, probeHamming1 = true)
      .withColumn("cosine", round(col("cosine"), 6))
  }

  val e07Sql: String = {
    val planeRows = (0 until lshDims).map { d =>
      val comps = (0 until lshPlanes)
        .map(p => Similarity.planeComponent(p, d).toString)
        .mkString(", ")
      s"(${d + 1}, $comps)"
    }.mkString(",\n         ")
    val dotCols = (0 until lshPlanes)
      .map(p => s"sum(v::DOUBLE * p$p) AS d$p").mkString(", ")
    val bucketExpr = (0 until lshPlanes)
      .map(p => s"(CASE WHEN d$p >= 0 THEN ${1L << p} ELSE 0 END)")
      .mkString(" + ")
    val flipBits = (0 until lshPlanes).map(p => (1L << p).toString)
      .mkString(", ")
    s"""WITH pl(i, ${(0 until lshPlanes).map("p" + _).mkString(", ")}) AS (
         VALUES $planeRows),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
       buckets AS (SELECT vec_id, $bucketExpr AS b
                   FROM (SELECT vec_id, $dotCols
                         FROM be JOIN pl ON be.i = pl.i GROUP BY vec_id)),
       qb AS (SELECT b FROM buckets WHERE vec_id = 42),
       probes AS (SELECT b AS pb FROM qb
                  UNION ALL
                  SELECT xor(qb.b, f) FROM qb, UNNEST([$flipBits]) t(f)),
       qe AS (SELECT i, v FROM be WHERE vec_id = 42),
       qn AS (SELECT sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM qe),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
              FROM be GROUP BY vec_id),
       cand AS (SELECT vec_id FROM buckets
                WHERE b IN (SELECT pb FROM probes)),
       dots AS (SELECT be.vec_id, sum(be.v::DOUBLE * qe.v::DOUBLE) AS d
                FROM be JOIN qe ON be.i = qe.i
                JOIN cand ON cand.vec_id = be.vec_id
                GROUP BY be.vec_id)
       SELECT dots.vec_id, round(dots.d / (bn.n * qn.n), 6) AS cosine
       FROM dots JOIN bn ON bn.vec_id = dots.vec_id, qn
       ORDER BY dots.d / (bn.n * qn.n) DESC, dots.vec_id LIMIT 10"""
  }

  /** §2.4 optional depth: CUBE over (event_type, value-band) — every
    * grouping-set combination incl. grand total in one pass. Spark's
    * `cube` == ANSI GROUP BY CUBE (DuckDB), null = the rolled-up level.
    */
  def q26(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "events")
      .cube(col("event_type"),
        (floor(col("value") / 50.0) * 50).cast("long").as("value_band"))
      .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
      .orderBy(col("event_type").asc_nulls_first,
        col("value_band").asc_nulls_first)

  val q26Sql: String =
    """WITH x AS (SELECT event_type,
         CAST(floor(value / 50.0) * 50 AS BIGINT) AS value_band, value
         FROM events)
       SELECT event_type, value_band,
              count(*) AS n, round(sum(value), 2) AS sum_value
       FROM x GROUP BY CUBE (event_type, value_band)
       ORDER BY event_type ASC NULLS FIRST, value_band ASC NULLS FIRST"""

  /** One Lloyd/k-means refinement iteration, DataFrame-native (the
    * distributed shape behind [[Similarity.kmeansIteration]]): per
    * (cluster, dim) mean of the assigned vectors — a single hash
    * aggregate over exploded components. The oracle replays assignment
    * (e04's tie-break) + the means in SQL.
    */
  def e06(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cents = Similarity.ivfCentroids(emb, "vec_id", "embedding", 8)
    Similarity.ivfAssign(emb, "embedding", cents, roundDigits = 6)
      .select(col("ivf_cluster"),
        posexplode(col("embedding")).as(Seq("d", "v")))
      .groupBy(col("ivf_cluster"), col("d").cast("long").as("d"))
      .agg(round(avg(col("v").cast("double")), 6).as("mean"))
      .orderBy(col("ivf_cluster"), col("d"))
  }

  val e06Sql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           ORDER BY vec_id LIMIT 8),
       ce AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v FROM c),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
       cn AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM ce GROUP BY cid),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM be GROUP BY vec_id),
       dots AS (SELECT be.vec_id, ce.cid, sum(be.v::DOUBLE * ce.v::DOUBLE) AS d
                FROM be JOIN ce ON be.i = ce.i GROUP BY be.vec_id, ce.cid),
       a AS (SELECT vec_id, cid FROM (
                  SELECT dots.vec_id, dots.cid,
                  row_number() OVER (PARTITION BY dots.vec_id
                    ORDER BY round(dots.d / (bn.n * cn.n), 6) DESC,
                             dots.cid DESC) AS rn
                  FROM dots JOIN bn ON bn.vec_id = dots.vec_id
                  JOIN cn ON cn.cid = dots.cid) WHERE rn = 1)
       SELECT a.cid AS ivf_cluster, be.i - 1 AS d,
              round(avg(be.v::DOUBLE), 6) AS mean
       FROM a JOIN be ON be.vec_id = a.vec_id
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Multi-iteration Lloyd with a convergence-replayable oracle: TWO
    * assign->means rounds ([[Similarity.kmeans]]), means rounded to 6
    * digits between rounds so the second assignment's inputs are
    * engine-exact (the e06 equivalence point, composed). Output = the
    * final centroid matrix as (cluster, dim, mean) rows.
    */
  def e08(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val emb = tp(spark, dir, "embeddings")
    val cents = Similarity.kmeans(emb, "vec_id", "embedding",
      k = 8, iters = 2, dims = lshDims, roundDigits = 6)
    cents.flatMap { case (cid, v) =>
      v.zipWithIndex.map { case (m, d) => (cid, d.toLong, m) }
    }.toDF("ivf_cluster", "d", "mean")
      .orderBy(col("ivf_cluster"), col("d"))
  }

  /** The e06 SQL composed twice: assignment-1 (initial centroids = the 8
    * smallest vec_ids, ties to LARGEST cid) -> rounded means m1 ->
    * assignment-2 against m1 -> rounded means out.
    */
  val e08Sql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           ORDER BY vec_id LIMIT 8),
       ce AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v FROM c),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings),
       cn AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM ce GROUP BY cid),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM be GROUP BY vec_id),
       d1 AS (SELECT be.vec_id, ce.cid, sum(be.v::DOUBLE * ce.v::DOUBLE) AS d
              FROM be JOIN ce ON be.i = ce.i GROUP BY be.vec_id, ce.cid),
       a1 AS (SELECT vec_id, cid FROM (
                  SELECT d1.vec_id, d1.cid,
                  row_number() OVER (PARTITION BY d1.vec_id
                    ORDER BY round(d1.d / (bn.n * cn.n), 6) DESC,
                             d1.cid DESC) AS rn
                  FROM d1 JOIN bn ON bn.vec_id = d1.vec_id
                  JOIN cn ON cn.cid = d1.cid) WHERE rn = 1),
       m1 AS (SELECT a1.cid, be.i, round(avg(be.v::DOUBLE), 6) AS v
              FROM a1 JOIN be ON be.vec_id = a1.vec_id GROUP BY 1, 2),
       m1n AS (SELECT cid, sqrt(sum(v * v)) AS n FROM m1 GROUP BY cid),
       d2 AS (SELECT be.vec_id, m1.cid, sum(be.v::DOUBLE * m1.v) AS d
              FROM be JOIN m1 ON be.i = m1.i GROUP BY be.vec_id, m1.cid),
       a2 AS (SELECT vec_id, cid FROM (
                  SELECT d2.vec_id, d2.cid,
                  row_number() OVER (PARTITION BY d2.vec_id
                    ORDER BY round(d2.d / (bn.n * m1n.n), 6) DESC,
                             d2.cid DESC) AS rn
                  FROM d2 JOIN bn ON bn.vec_id = d2.vec_id
                  JOIN m1n ON m1n.cid = d2.cid) WHERE rn = 1)
       SELECT a2.cid AS ivf_cluster, be.i - 1 AS d,
              round(avg(be.v::DOUBLE), 6) AS mean
       FROM a2 JOIN be ON be.vec_id = a2.vec_id
       GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Deterministic kmeans++-style IVF seeding (e09): hash-random first
    * seed, then greedy D² (max rounded cosine distance to the nearest
    * chosen seed, ties to smallest id) — [[Similarity
    * .kmeansPlusPlusSeeds]] — followed by the e04 assignment census
    * over the chosen centroids. The oracle replays the ENTIRE greedy
    * chain stage by stage in SQL: same md5 first pick, same rounded
    * distances, same argmax tie-break, then e04's assignment
    * tie-break. OpsSpec asserts the recall property (seeding spread >=
    * id-ordered seeding on a planted skewed fixture).
    */
  val e09K = 4

  def e09(spark: SparkSession, dir: String): DataFrame = {
    val emb = t(spark, dir, "embeddings")
    val cents = Similarity.kmeansPlusPlusSeeds(emb, "vec_id", "embedding",
      e09K)
    Similarity.ivfAssign(emb, "embedding", cents, roundDigits = 6)
      .groupBy(col("ivf_cluster"))
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy(col("ivf_cluster"))
  }

  /** kmeans++ greedy seed-chain CTE stages ([[Similarity
    * .kmeansPlusPlusSeeds]]'s SQL replay), shared by e09 and e11.
    * Assumes CTEs `be` (vec_id, i, v), `bn` (vec_id, n) and `cand`
    * (vec_id — the seed-CANDIDATE set, already nonzero-norm-filtered)
    * are defined. Emits stages s1..sK; the chosen seed ids are
    * `SELECT vec_id FROM s1 UNION ... UNION SELECT vec_id FROM sK`
    * ([[kppSeedIds]]).
    *
    * Per stage: rounded cosine distance of every candidate to the
    * stage's single seed (the seed row itself included, d = 0); next
    * seed = argmax of the running min distance, ties to smallest id —
    * the exact greedy D² chain, same md5 first pick.
    */
  private def kppStages(k: Int): Seq[String] = {
    def ds(n: Int): String =
      s"""ds$n AS (SELECT be.vec_id,
           round(1.0 - sum(be.v::DOUBLE * sv.v::DOUBLE) / (bn.n * sn$n.nn), 6) AS d
           FROM be
           JOIN cand ON cand.vec_id = be.vec_id
           JOIN (SELECT i, v FROM be
                 WHERE vec_id = (SELECT vec_id FROM s$n)) sv ON sv.i = be.i
           JOIN bn ON bn.vec_id = be.vec_id
           CROSS JOIN (SELECT n AS nn FROM bn
                       WHERE vec_id = (SELECT vec_id FROM s$n)) sn$n
           GROUP BY be.vec_id, bn.n, sn$n.nn)"""
    val stages = new scala.collection.mutable.ArrayBuffer[String]
    stages += """s1 AS (SELECT vec_id FROM cand
         ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT 1)"""
    stages += ds(1)
    stages += "m1 AS (SELECT vec_id, d AS dmin FROM ds1)"
    for (n <- 2 to k) {
      stages += s"""s$n AS (SELECT vec_id FROM m${n - 1}
           WHERE vec_id NOT IN (${kppSeedIds(n - 1)})
           ORDER BY dmin DESC, vec_id LIMIT 1)"""
      if (n < k) {
        stages += ds(n)
        stages += s"""m$n AS (SELECT m${n - 1}.vec_id,
             least(m${n - 1}.dmin, ds$n.d) AS dmin
             FROM m${n - 1} JOIN ds$n ON ds$n.vec_id = m${n - 1}.vec_id)"""
      }
    }
    stages.toSeq
  }

  private def kppSeedIds(k: Int): String =
    (1 to k).map(i => s"SELECT vec_id FROM s$i").mkString(" UNION ")

  lazy val e09Sql: String = {
    // candidate set = every NON-ZERO-NORM vector, mirroring
    // kmeansPlusPlusSeeds' candidacy filter BY CONSTRUCTION — without
    // it a zero-norm row in the fixture would divide by zero here
    // while the Spark side excludes it, and the parity would hold only
    // by fixture luck
    s"""WITH be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           unnest(embedding) AS v FROM embeddings),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
              FROM be GROUP BY vec_id),
       cand AS (SELECT vec_id FROM bn WHERE n > 0),
       ${kppStages(e09K).mkString(",\n       ")},
       c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
             WHERE vec_id IN (${kppSeedIds(e09K)})),
       ce AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v
              FROM c),
       cn AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
              FROM ce GROUP BY cid),
       dots AS (SELECT be.vec_id, ce.cid,
                sum(be.v::DOUBLE * ce.v::DOUBLE) AS d
                FROM be JOIN ce ON be.i = ce.i GROUP BY be.vec_id, ce.cid),
       scored AS (SELECT dots.vec_id, dots.cid,
                  row_number() OVER (PARTITION BY dots.vec_id
                    ORDER BY round(dots.d / (bn.n * cn.n), 6) DESC,
                             dots.cid DESC) AS rn
                  FROM dots JOIN bn ON bn.vec_id = dots.vec_id
                  JOIN cn ON cn.cid = dots.cid)
       SELECT cid AS ivf_cluster, count(*) AS n_vectors
       FROM scored WHERE rn = 1 GROUP BY cid ORDER BY cid"""
  }

  /** Incremental IVF maintenance (e10): a NEW ingest batch
    * (vec_id >= 400) assigned against centroids FROZEN from the prior
    * corpus (vec_id < 400) — [[Similarity.incrementalIvf]]'s
    * assign-without-rescan step, with the drift floor set so the
    * frozen index is kept (the re-seed branch is OpsSpec-covered with
    * a planted drifted batch). Output per cluster: new-vector count
    * and the MINIMUM rounded cosine (min of rounded values is
    * summation-order-independent, hence engine-exact). The oracle
    * replays the frozen-centroid derivation and the rounded argmax
    * over exactly the new batch.
    */
  def e10(spark: SparkSession, dir: String): DataFrame = {
    val emb = tp(spark, dir, "embeddings")
    val old = emb.filter(col("vec_id") < 400)
    val fresh = emb.filter(col("vec_id") >= 400)
    val cents = Similarity.ivfCentroids(old, "vec_id", "embedding", 8)
    val upd = Similarity.incrementalIvf(old, fresh, "vec_id", "embedding",
      cents, k = 8, minCosine = -1.0) // floor below any cosine: no reseed
    assert(!upd.reseeded, "e10 exercises the frozen-index branch")
    upd.assigned
      .groupBy(col("ivf_cluster"))
      .agg(count(lit(1)).as("n_new_vectors"),
        min(col("ivf_cosine")).as("min_cosine"))
      .orderBy(col("ivf_cluster"))
  }

  val e10Sql: String =
    """WITH c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
           WHERE vec_id < 400 ORDER BY vec_id LIMIT 8),
       ce AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v FROM c),
       be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
              unnest(embedding) AS v FROM embeddings WHERE vec_id >= 400),
       cn AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM ce GROUP BY cid),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n FROM be GROUP BY vec_id),
       dots AS (SELECT be.vec_id, ce.cid, sum(be.v::DOUBLE * ce.v::DOUBLE) AS d
                FROM be JOIN ce ON be.i = ce.i GROUP BY be.vec_id, ce.cid),
       scored AS (SELECT dots.vec_id, dots.cid,
                  round(dots.d / (bn.n * cn.n), 6) AS s,
                  row_number() OVER (PARTITION BY dots.vec_id
                    ORDER BY round(dots.d / (bn.n * cn.n), 6) DESC,
                             dots.cid DESC) AS rn
                  FROM dots JOIN bn ON bn.vec_id = dots.vec_id
                  JOIN cn ON cn.cid = dots.cid)
       SELECT cid AS ivf_cluster, count(*) AS n_new_vectors,
              min(s) AS min_cosine
       FROM scored WHERE rn = 1 GROUP BY cid ORDER BY cid"""

  /** Incremental-IVF RESEED branch (e11): the same ingest split as
    * e10, but with a drift floor the frozen index genuinely fails —
    * at minCosine = 0.25 roughly three quarters of the new batch
    * scores below the floor at both SFs (measured: 0.76-0.79), past
    * the 0.5 drift threshold — so [[Similarity.incrementalIvf]]
    * re-seeds with kmeans++ over the hash-gated sample of
    * corpus + batch and re-assigns the batch against the new seeds.
    * The oracle replays the WHOLE branch independently in SQL: the
    * frozen-centroid drift aggregate (e10's scoring shape), the md5
    * sample gate (d17's idiom), the greedy D² seed chain (the shared
    * [[kppStages]] generator over the sampled candidate set), and the
    * rounded-argmax assignment census of the batch against the
    * reseeded centroids. `drift_fraction` is ONE IEEE division of the
    * same two integers in both engines — bit-exact.
    */
  val e11K = 4
  private val e11MinCos = 0.25

  def e11(spark: SparkSession, dir: String): DataFrame = {
    val emb = tp(spark, dir, "embeddings")
    val old = emb.filter(col("vec_id") < 400)
    val fresh = emb.filter(col("vec_id") >= 400)
    val cents = Similarity.ivfCentroids(old, "vec_id", "embedding", 8)
    val upd = Similarity.incrementalIvf(old, fresh, "vec_id", "embedding",
      cents, k = e11K, minCosine = e11MinCos, maxDriftFraction = 0.5,
      sampleRate16 = 8)
    assert(upd.reseeded, "e11 exercises the reseed branch")
    upd.assigned
      .groupBy(col("ivf_cluster"))
      .agg(count(lit(1)).as("n_new_vectors"),
        min(col("ivf_cosine")).as("min_cosine"))
      .withColumn("drift_fraction", lit(upd.driftFraction))
      .orderBy(col("ivf_cluster"))
  }

  lazy val e11Sql: String =
    s"""WITH be AS (SELECT vec_id, generate_subscripts(embedding, 1) AS i,
           unnest(embedding) AS v FROM embeddings),
       bn AS (SELECT vec_id, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
              FROM be GROUP BY vec_id),
       c0 AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
              WHERE vec_id < 400 ORDER BY vec_id LIMIT 8),
       ce0 AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v
               FROM c0),
       cn0 AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
               FROM ce0 GROUP BY cid),
       dots0 AS (SELECT be.vec_id, ce0.cid,
                 sum(be.v::DOUBLE * ce0.v::DOUBLE) AS d
                 FROM be JOIN ce0 ON be.i = ce0.i
                 WHERE be.vec_id >= 400 GROUP BY be.vec_id, ce0.cid),
       best0 AS (SELECT dots0.vec_id,
                 max(round(dots0.d / (bn.n * cn0.n), 6)) AS s
                 FROM dots0 JOIN bn ON bn.vec_id = dots0.vec_id
                 JOIN cn0 ON cn0.cid = dots0.cid GROUP BY dots0.vec_id),
       drift AS (SELECT count(*) FILTER (WHERE s < $e11MinCos)::DOUBLE
                   / count(*) AS f FROM best0),
       cand AS (SELECT vec_id FROM bn WHERE n > 0 AND
                strpos('0123456789abcdef',
                       substr(md5('ivf-reseed' || vec_id), 1, 1)) - 1 < 8),
       ${kppStages(e11K).mkString(",\n       ")},
       c AS (SELECT vec_id AS cid, embedding AS cv FROM embeddings
             WHERE vec_id IN (${kppSeedIds(e11K)})),
       ce AS (SELECT cid, generate_subscripts(cv, 1) AS i, unnest(cv) AS v
              FROM c),
       cn AS (SELECT cid, sqrt(sum(v::DOUBLE * v::DOUBLE)) AS n
              FROM ce GROUP BY cid),
       dots AS (SELECT be.vec_id, ce.cid,
                sum(be.v::DOUBLE * ce.v::DOUBLE) AS d
                FROM be JOIN ce ON be.i = ce.i
                WHERE be.vec_id >= 400 GROUP BY be.vec_id, ce.cid),
       scored AS (SELECT dots.vec_id, dots.cid,
                  round(dots.d / (bn.n * cn.n), 6) AS s,
                  row_number() OVER (PARTITION BY dots.vec_id
                    ORDER BY round(dots.d / (bn.n * cn.n), 6) DESC,
                             dots.cid DESC) AS rn
                  FROM dots JOIN bn ON bn.vec_id = dots.vec_id
                  JOIN cn ON cn.cid = dots.cid)
       SELECT cid AS ivf_cluster, count(*) AS n_new_vectors,
              min(s) AS min_cosine, (SELECT f FROM drift) AS drift_fraction
       FROM scored WHERE rn = 1 GROUP BY cid ORDER BY cid"""

  /** Composite training-data CURATION pipeline — the end-to-end flow a
    * 100 TB curation job runs: exact dedup (hash-agg + semi-join) ->
    * quality filter (narrow codegen'd features) -> language ID (narrow
    * marker voting) -> corpus stats. Every stage is an already-oracled
    * operator (d01/d03/d04); this verifies their COMPOSITION.
    */
  def d11(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val deduped = Dedup.dropExactDups(docs, "doc_id", "text")
    val quality = TextAnalysis.qualityFeatures(deduped)
      .filter(col("quality_ok"))
    TextAnalysis.langIdColumns(quality)
      .groupBy(col("source"), col("lang_pred"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"))
      .orderBy(col("source"), col("lang_pred"))
  }

  val d11Sql: String = {
    val langs = TextAnalysis.langMarkers.keys.toSeq.sorted
    val scoreCols = langs.map { l =>
      val markers = TextAnalysis.langMarkers(l)
        .map(m => s"'$m'").mkString(", ")
      s"len(list_filter(w, x -> x IN ($markers))) AS s_$l"
    }.mkString(",\n           ")
    val greatest = s"greatest(${langs.map("s_" + _).mkString(", ")})"
    val caseChain = langs.map(l => s"WHEN s_$l = g THEN '$l'").mkString(" ")
    s"""WITH k AS (SELECT min(doc_id) AS doc_id FROM documents
           GROUP BY md5(lower(regexp_replace(trim(text), '\\s+', ' ', 'g')))),
       d AS (SELECT doc_id, source,
             regexp_split_to_array(trim(text), '\\s+') AS w
             FROM documents JOIN k USING (doc_id)),
       q AS (SELECT *, len(w) AS n_tokens,
             len(list_filter(w, x -> x IN ('the','a','of','and'))) AS sw
             FROM d),
       f AS (SELECT * FROM q
             WHERE n_tokens >= 5 AND n_tokens <= 100000 AND sw > 0),
       s AS (SELECT doc_id, source, n_tokens,
           $scoreCols FROM f),
       p AS (SELECT source, n_tokens, $greatest AS g,
             ${langs.map("s_" + _).mkString(", ")} FROM s)
       SELECT source, CASE WHEN g <= 0 THEN 'und' $caseChain END AS lang_pred,
              count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS total_tokens
       FROM p GROUP BY 1, 2 ORDER BY 1, 2"""
  }

  /** Gopher/C4-style repetition signals (duplicate-token fraction + top
    * bigram count) — the boilerplate/degenerate-loop curation filter.
    */
  def d13(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.repetitionFeatures(t(spark, dir, "documents"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        col("dup_frac_x1000"), col("top_bigram_n"), col("repetition_ok"))
      .orderBy(col("doc_id"))

  val d13Sql: String =
    """WITH t AS (SELECT doc_id,
           CASE WHEN trim(text) = '' THEN CAST([] AS VARCHAR[])
                ELSE regexp_split_to_array(trim(text), '\s+') END AS w
           FROM documents),
       g AS (SELECT doc_id, generate_subscripts(w, 1) AS i, unnest(w) AS tok
             FROM t),
       b AS (SELECT a.doc_id, a.tok || ' ' || c.tok AS bg
             FROM g a JOIN g c ON c.doc_id = a.doc_id AND c.i = a.i + 1),
       m AS (SELECT doc_id, max(n) AS top_bigram_n FROM
               (SELECT doc_id, bg, count(*) AS n FROM b GROUP BY 1, 2)
             GROUP BY doc_id),
       s AS (SELECT doc_id, len(w) AS n_tokens,
             len(list_distinct(w)) AS n_distinct FROM t),
       f AS (SELECT doc_id, n_tokens, n_distinct,
             CASE WHEN n_tokens = 0 THEN 0
                  ELSE floor((n_tokens - n_distinct) * 1000 / n_tokens)
             END AS dup_frac FROM s)
       SELECT f.doc_id, CAST(n_tokens AS BIGINT) AS n_tokens,
              CAST(n_distinct AS BIGINT) AS n_distinct,
              CAST(dup_frac AS BIGINT) AS dup_frac_x1000,
              CAST(COALESCE(m.top_bigram_n, 0) AS BIGINT) AS top_bigram_n,
              (dup_frac <= 600 AND COALESCE(m.top_bigram_n, 0) <= 8)
                AS repetition_ok
       FROM f LEFT JOIN m USING (doc_id) ORDER BY f.doc_id"""

  /** BPE-token-window chunking (the document -> training-sample
    * splitter, in the unit a training pipeline actually bills by):
    * window 32 stride 24 over the document's BPE TOKEN STREAM — the
    * in-order concatenation of each normalized word's real-vocab
    * tokenization (BPE never merges across word boundaries, so the
    * stream is word-local by construction). The token arrays come from
    * the native [[graft.functions.BpeTokens]] expression evaluated per
    * word occurrence inside ONE narrow map (no distinct-word join:
    * cheap per-word eval beats a shuffle here, and PlanSpec pins the
    * zero-Exchange shape). Chunk content is verified via md5 prefix;
    * the oracle re-derives the merges table generatively, replays
    * textbook BPE per distinct word, reassembles each document's
    * stream in word order, and windows it identically.
    */
  def d14(spark: SparkSession, dir: String): DataFrame =
    TextAnalysis.chunkPlan(tp(spark, dir, "documents"), window = 32,
        stride = 24,
        tokensExpr = Some(flatten(transform(
          graft.ops.Bpe.normalizeWords(col("text")),
          w => graft.functions.BpeExprs.bpeTokens(w,
            graft.ops.Bpe.realVocab)))))
      .orderBy(col("doc_id"), col("chunk_idx"))

  val d14Sql: String =
    s"""WITH RECURSIVE
       ${graft.ops.Bpe.layeredMergesSqlCtes()},
       t AS (SELECT doc_id,
             list_filter(string_split(
               regexp_replace(lower(trim(text)), '[^a-z0-9 ]', ' ', 'g'),
               ' '), x -> x <> '') AS w
             FROM documents),
       dw AS (SELECT doc_id, i AS wpos, w[i] AS word
              FROM t, UNNEST(generate_series(1, len(w))) AS u(i)),
       words AS (SELECT DISTINCT word FROM dw),
       ${graft.ops.Bpe.textbookReplayCtes("words")},
       dt AS (SELECT doc_id,
              string_split(string_agg(trim(f.st), ' ' ORDER BY dw.wpos),
                           ' ') AS toks
              FROM dw JOIN final f ON f.w = dw.word GROUP BY doc_id),
       c AS (SELECT doc_id,
               CAST((s - 1) / 24 AS BIGINT) AS chunk_idx,
               CAST(s AS BIGINT) AS start,
               toks[s : s + 31] AS ch
             FROM dt, UNNEST(generate_series(1, len(toks), 24)) AS u(s))
       SELECT doc_id, chunk_idx, start,
              CAST(len(ch) AS BIGINT) AS n_chunk_tokens,
              substr(md5(array_to_string(ch, ' ')), 1, 8) AS chunk_h8
       FROM c ORDER BY doc_id, chunk_idx"""

  /** Benchmark decontamination screen: 3-gram shingle overlap of every
    * corpus doc against the benchmark set (doc_id % 97 == 0), broadcast
    * semi-join + per-doc overlap count.
    */
  def d15(spark: SparkSession, dir: String): DataFrame = {
    val docs = t(spark, dir, "documents")
    val bench = docs.filter(col("doc_id") % 97 === 0)
    val corpus = docs.filter(col("doc_id") % 97 =!= 0)
    Dedup.contaminationScreen(corpus, bench, "doc_id", "text", shingleN = 3)
      .orderBy(col("doc_id"))
  }

  val d15Sql: String =
    """WITH d AS (SELECT doc_id,
           regexp_split_to_array(lower(trim(text)), '\s+') AS w
           FROM documents),
       sh AS (SELECT DISTINCT doc_id,
              w[i] || ' ' || w[i+1] || ' ' || w[i+2] AS s
              FROM d, UNNEST(generate_series(1, len(w) - 2)) AS u(i)),
       shh AS (SELECT doc_id, substr(md5(s), 1, 16) AS h FROM sh),
       bench AS (SELECT DISTINCT h FROM shh WHERE doc_id % 97 = 0),
       sizes AS (SELECT doc_id, count(*) AS n FROM shh GROUP BY doc_id),
       hits AS (SELECT shh.doc_id, count(*) AS o FROM shh
                JOIN bench USING (h)
                WHERE shh.doc_id % 97 <> 0 GROUP BY shh.doc_id)
       SELECT d.doc_id, CAST(COALESCE(sizes.n, 0) AS BIGINT) AS n_shingles,
              CAST(COALESCE(hits.o, 0) AS BIGINT) AS n_overlap,
              COALESCE(hits.o, 0) > 0 AS contaminated
       FROM d LEFT JOIN sizes USING (doc_id) LEFT JOIN hits USING (doc_id)
       WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id"""

  /** PII pattern census over a deterministically CONSTRUCTED contact
    * string (both engines build the identical text from `events` — the
    * q22 technique), aggregated per event_type. Counts only; the text
    * byte-equality invariant holds everywhere.
    */
  def d16(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
      .withColumn("contact", concat(
        lit("contact "), col("event_type"), lit("_"),
        col("event_id").cast("string"), lit("@example.com"),
        when(col("event_id") % 3 === 0,
          concat(lit(" call 555-123-"),
            lpad((col("event_id") % 10000).cast("string"), 4, "0")))
          .otherwise(lit("")),
        when(col("event_id") % 5 === 0,
          concat(lit(" from 10.0."),
            (col("event_id") % 256).cast("string"), lit(".7")))
          .otherwise(lit(""))))
    TextAnalysis.piiCounts(ev, "contact")
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("n_email")).as("total_email"),
        sum(col("n_phone")).as("total_phone"),
        sum(col("n_ipv4")).as("total_ipv4"),
        sum(when(col("pii_free"), 1L).otherwise(0L)).as("n_pii_free"))
      .orderBy(col("event_type"))
  }

  val d16Sql: String =
    """WITH c AS (SELECT event_type,
           'contact ' || event_type || '_' || event_id || '@example.com' ||
           CASE WHEN event_id % 3 = 0
                THEN ' call 555-123-' ||
                     lpad(CAST(event_id % 10000 AS VARCHAR), 4, '0')
                ELSE '' END ||
           CASE WHEN event_id % 5 = 0
                THEN ' from 10.0.' || (event_id % 256) || '.7'
                ELSE '' END AS contact
           FROM events),
       p AS (SELECT event_type,
             len(regexp_extract_all(contact,
               '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS n_email,
             len(regexp_extract_all(contact,
               '\b\d{3}-\d{3}-\d{4}\b')) AS n_phone,
             len(regexp_extract_all(contact,
               '\b(\d{1,3}\.){3}\d{1,3}\b')) AS n_ipv4
             FROM c)
       SELECT event_type, count(*) AS n,
              CAST(sum(n_email) AS BIGINT) AS total_email,
              CAST(sum(n_phone) AS BIGINT) AS total_phone,
              CAST(sum(n_ipv4) AS BIGINT) AS total_ipv4,
              CAST(sum(CASE WHEN n_email = 0 AND n_phone = 0 AND n_ipv4 = 0
                   THEN 1 ELSE 0 END) AS BIGINT) AS n_pii_free
       FROM p GROUP BY event_type ORDER BY event_type"""

  /** Deterministic stratified sampling: per-language keep rates via the
    * md5 hash gate ([[TextAnalysis.hashSampleFlag]]) — reproducible in
    * any engine (the oracle replays the exact md5 digit), verified by
    * per-stratum counts AND the kept-id checksum (content, not just
    * cardinality).
    */
  def d17(spark: SparkSession, dir: String): DataFrame = {
    val rate = when(col("lang") === "en", 8)
      .when(col("lang").isin("de", "fr"), 4)
      .otherwise(2)
    t(spark, dir, "documents")
      .withColumn("keep",
        TextAnalysis.hashSampleFlag(col("doc_id"), "s17|", rate))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("keep"), 1L).otherwise(0L)).as("n_kept"),
        sum(when(col("keep"), col("doc_id")).otherwise(0L))
          .as("kept_id_sum"))
      .orderBy(col("lang"))
  }

  val d17Sql: String =
    """WITH s AS (SELECT lang, doc_id,
         strpos('0123456789abcdef',
                substr(md5('s17|' || doc_id), 1, 1)) - 1 AS hv,
         CASE WHEN lang = 'en' THEN 8
              WHEN lang IN ('de', 'fr') THEN 4
              ELSE 2 END AS r
         FROM documents)
       SELECT lang, count(*) AS n_total,
              CAST(sum(CASE WHEN hv < r THEN 1 ELSE 0 END) AS BIGINT)
                AS n_kept,
              CAST(sum(CASE WHEN hv < r THEN doc_id ELSE 0 END) AS BIGINT)
                AS kept_id_sum
       FROM s GROUP BY lang ORDER BY lang"""

  // ---------------------------------------------------------------- //
  // Flagship pipeline queries: a deterministic Turn-shaped transcript //
  // is CONSTRUCTED from the events table (both engines build the      //
  // identical text — the q22 technique), then Spark runs the REAL     //
  // pipeline operators (Parse -> Route -> Enrich -> prefix scan)      //
  // while the oracle replays the same semantics in SQL.               //
  // ---------------------------------------------------------------- //

  /** events -> Turn-shaped transcript: conv = user, turn = event_id,
    * role from event_type ('error' maps to an UNKNOWN role, exercising
    * the `other` sink), text a mix of grok lines / headers /
    * continuations / garbage selected by deterministic event_id mods.
    */
  def eventsAsTurns(spark: SparkSession, dir: String): DataFrame = {
    val ev = t(spark, dir, "events")
    val role = when(col("event_type") === "view", lit("user"))
      .when(col("event_type") === "click", lit("assistant"))
      .when(col("event_type") === "purchase", lit("tool"))
      .when(col("event_type") === "signup", lit("system"))
      .otherwise(lit("watcher"))
    val tool = when(col("event_type") === "purchase",
      when(col("event_id") % 11 === 0, lit("mystery_tool"))
        .otherwise(lit("search")))
    val level = when(col("value") > 150.0, lit("WARN")).otherwise(lit("INFO"))
    val grokLine = concat(
      date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ss'Z'"), lit(" "),
      level, lit(" ["), role, lit("] "), col("props"))
    val text =
      when(col("event_id") % 97 === 0, lit("#Version: 2.0"))
        .when(col("event_id") % 89 === 0, concat(lit("    cont "), col("props")))
        .when(col("event_id") % 83 === 0, concat(lit("@@garbage "), col("props")))
        .otherwise(grokLine)
    ev.select(
      concat(lit("conv-"), lpad(col("user_id").cast("string"), 8, "0"))
        .as("conv_id"),
      col("event_id").cast("int").as("turn_idx"),
      role.as("role"), text.as("text"), tool.as("tool"), col("ts"))
  }

  /** The shared SQL prelude mirroring [[eventsAsTurns]] + the routing
    * decision (Parse.parseColumns validation + Route.sinkExpr precedence
    * with excludePattern `"k": 8\d`).
    */
  private val pipelineSqlSource: String =
    """WITH t AS (SELECT event_id, user_id, ts, value, props,
         CASE event_type WHEN 'view' THEN 'user' WHEN 'click' THEN 'assistant'
              WHEN 'purchase' THEN 'tool' WHEN 'signup' THEN 'system'
              ELSE 'watcher' END AS role
         FROM events),
       x AS (SELECT *,
         CASE WHEN event_id % 97 = 0 THEN '#Version: 2.0'
              WHEN event_id % 89 = 0 THEN '    cont ' || props
              WHEN event_id % 83 = 0 THEN '@@garbage ' || props
              ELSE strftime(ts, '%Y-%m-%dT%H:%M:%SZ') || ' ' ||
                   CASE WHEN value > 150.0 THEN 'WARN' ELSE 'INFO' END ||
                   ' [' || role || '] ' || props END AS text
         FROM t)"""

  /** The routing CTE (Parse.parseColumns validation + Route.sinkExpr
    * precedence) over any relation with (text, role) — `x` for the
    * plain pipeline queries, a text-rewriting intermediate for d20.
    */
  private def pipelineSqlRoute(rel: String): String =
    s"""r AS (SELECT *,
         CASE WHEN (starts_with(text, '#Version: ') AND length(text) > 10
                    AND NOT contains(text, chr(10)))
                OR (starts_with(text, '#Fields: ') AND length(text) > 9
                    AND NOT contains(text, chr(10))) THEN 'consumed'
              WHEN NOT (regexp_matches(text,
                  '^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?Z (TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \\[\\w+\\] ')
                  AND NOT contains(text, chr(10)))
                AND NOT regexp_matches(text, '^\\s+') THEN 'deadletter'
              WHEN regexp_matches(text, '"k": 8\\d') THEN 'excluded'
              WHEN role IN ('user','assistant','tool','system') THEN role
              ELSE 'other' END AS sink
         FROM $rel)"""

  private val pipelineSqlPrelude: String =
    pipelineSqlSource + ",\n       " + pipelineSqlRoute("x")

  /** Full transcript pipeline fan-out: the REAL operator chain
    * ([[graft.pipeline.Pipeline]]: parseColumns -> Route -> Enrich ->
    * fused prefix scan) over the constructed transcript; per-sink
    * counts oracle-checked against the SQL routing mirror.
    */
  def p01(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline._
    val turns = eventsAsTurns(spark, dir).as[Turn]
    Pipeline(turns, excludePattern = "\"k\": 8\\d")
      .groupBy(col("sink")).agg(count(lit(1)).as("n_turns"))
      .orderBy(col("sink"))
  }

  val p01Sql: String =
    pipelineSqlPrelude +
      """
       SELECT sink, count(*) AS n_turns FROM r GROUP BY sink ORDER BY sink"""

  /** Pipeline per-sink hourly aggregate ([[graft.pipeline.Aggregate]]
    * over the same real operator chain).
    */
  def p02(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.pipeline._
    val turns = eventsAsTurns(spark, dir).as[Turn]
    Aggregate.bySinkHour(Pipeline(turns, excludePattern = "\"k\": 8\\d"))
      .withColumn("hour_start",
        date_format(col("hour_start"), "yyyy-MM-dd HH:mm:ss"))
      .orderBy(col("sink"), col("hour_start"))
  }

  val p02Sql: String =
    pipelineSqlPrelude +
      """
       SELECT sink, strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour_start,
              count(*) AS n_turns
       FROM r GROUP BY 1, 2 ORDER BY 1, 2"""

  /** Native-Expression rolling-hash fingerprint (graft.functions
    * .RollingHashMin, codegen'd O(n) Rabin-Karp, polynomial hash mod
    * 2^62). The oracle recomputes every window's polynomial hash exactly
    * in HUGEINT (terms < 2^74 fit easily in 128 bits; documents are
    * ASCII so unicode(char) == the UTF-8 byte the native expression
    * hashes).
    */
  def f01(spark: SparkSession, dir: String): DataFrame =
    t(spark, dir, "documents")
      .filter(length(col("text")) >= 16)
      .select(col("doc_id"),
        graft.functions.RollingHashMin.rollingHashMin(col("text"), 16)
          .as("fp"))
      .groupBy(col("fp")).agg(count(lit(1)).as("n_docs"))
      .filter(col("n_docs") > 1)
      .orderBy(col("fp"))

  val f01Sql: String = {
    val w = 16
    val mask = graft.functions.RollingHashMin.Mask
    // B^(w-1-j) mod 2^62 for window position j
    val pows = (0 until w).scanLeft(1L)((p, _) =>
      (p * graft.functions.RollingHashMin.Base) & mask).take(w).reverse
    val terms = (0 until w).map { j =>
      s"CAST(unicode(substr(text, i + $j, 1)) AS HUGEINT) * ${pows(j)}::HUGEINT"
    }.mkString(" +\n           ")
    s"""WITH d AS (SELECT doc_id, text FROM documents WHERE length(text) >= 16),
       w AS (SELECT doc_id, CAST((
           $terms
         ) % ${mask + 1}::HUGEINT AS BIGINT) AS h
         FROM d, UNNEST(generate_series(1, length(text) - ${w - 1})) u(i)),
       mins AS (SELECT doc_id, min(h) AS fp FROM w GROUP BY doc_id)
       SELECT fp, count(*) AS n_docs FROM mins GROUP BY fp
       HAVING count(*) > 1 ORDER BY fp"""
  }

  /** Multimodal decode/feature plumbing (stubbed codec, real dataflow).
    * The generator's kind and payload size are closed-form functions of
    * the id, so the oracle needs no table at all — a pure
    * `range(500)` recomputation.
    */
  def m01(spark: SparkSession, dir: String): DataFrame = {
    import graft.ops.Multimodal
    val media = Multimodal.synthMedia(spark, 500L)
    Multimodal.decodeFeatures(media).toDF()
      .groupBy(col("kind"))
      .agg(count(lit(1)).as("n"), sum(col("n_bytes")).as("total_bytes"))
      .orderBy(col("kind"))
  }

  val m01Sql: String =
    """WITH m AS (SELECT range AS id,
         CASE range % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio'
              ELSE 'video' END AS kind,
         272 + ((range * 2654435761) % 1024) AS n_bytes
       FROM range(500))
       SELECT kind, count(*) AS n, CAST(sum(n_bytes) AS BIGINT) AS total_bytes
       FROM m GROUP BY kind ORDER BY kind"""

  /** REAL image-container header decode (m02): structurally valid
    * PNG/JPEG payloads (Multimodal.synthImagePayload — real signatures,
    * IHDR chunk, JPEG marker-segment walk past APP0+COM to SOF0) carry
    * closed-form dimensions; the distributed parse
    * (Multimodal.ImageCodec, pure-JVM byte walk, no media libs) must
    * recover exactly them. The oracle recomputes the closed forms —
    * a parse bug at any offset diverges immediately — and OpsSpec pins
    * the parser against hand-assembled SPEC fixtures (including a CRC'd
    * real 1x1 PNG) so a symmetric construct/parse bug cannot hide.
    */
  def m02(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.imageDims(spark, 64L)
      .orderBy(col("media_id"))

  val m02Sql: String =
    """SELECT range AS media_id,
         CASE WHEN range % 2 = 0 THEN 'png' ELSE 'jpeg' END AS format,
         CAST(16 + (range * 2654435761) % 496 AS INT) AS width,
         CAST(16 + (range * 40503) % 496 AS INT) AS height
       FROM range(64) ORDER BY media_id"""

  /** REAL WAV/RIFF header decode (m03): structurally valid WAVE
    * payloads (junk LIST chunk + word-alignment pad BEFORE `fmt `, so
    * the chunk walk is proven) carry closed-form channels/rate/data
    * size; the distributed parse (Multimodal.AudioCodec) recovers them
    * and derives duration from the byte rate. Oracle = closed-form
    * recompute; OpsSpec pins the canonical 44-byte WAV layout.
    */
  def m03(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.audioMeta(spark, 64L)
      .orderBy(col("media_id"))

  val m03Sql: String =
    """SELECT range AS media_id,
         CAST(1 + range % 2 AS INT) AS channels,
         CAST(8000 + 1000 * (range % 37) AS INT) AS sample_rate,
         16 AS bits,
         CAST(floor((256 + (range * 2654435761) % 1024) * 1000.0 /
              ((8000 + 1000 * (range % 37)) * (1 + range % 2) * 2))
              AS BIGINT) AS duration_ms
       FROM range(64) ORDER BY media_id"""

  /** REAL MP4/ISO-BMFF header decode (m04): structurally valid MP4
    * payloads (Multimodal.synthMp4Payload — ftyp brand, nested moov
    * with junk udta, a sound trak the walker must SKIP, the video
    * trak's tkhd behind a junk edts sibling, a 64-bit largesize mdat
    * before moov on even ids, version-0/1 mvhd+tkhd by id parity)
    * carry closed-form dims/timescale/duration; the distributed box
    * walk (Multimodal.VideoCodec) recovers them and derives the
    * presentation duration in ms. Oracle = closed-form recompute;
    * OpsSpec pins truncation/corrupt-size/hang-proofness fixtures.
    */
  def m04(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.videoMeta(spark, 64L)
      .orderBy(col("media_id"))

  val m04Sql: String =
    """SELECT range AS media_id,
         'mp4' AS format,
         CAST(160 + (range * 2654435761) % 1760 AS INT) AS width,
         CAST(120 + (range * 40503) % 960 AS INT) AS height,
         CAST(floor((1000 + (range * 48271) % 120000) * 1000.0 /
              (600 + 100 * (range % 7))) AS BIGINT) AS duration_ms
       FROM range(64) ORDER BY media_id"""

  /** REAL PNG pixel decode (m05): complete spec-valid PNG payloads
    * (CRC'd chunks, zlib IDAT split across two members, scanline
    * filters cycling through ALL FIVE types, color type cycling
    * gray/RGB/RGBA) carry closed-form pixel values; the distributed
    * decode (Multimodal.PixelCodec — JDK Inflater + unfilter, no
    * media libs) must recover them exactly. Output is per-channel
    * integer SUMS, so the comparison is hash-exact with no
    * floating-point parity caveat. The oracle recomputes the sums
    * from the pixel formula alone — it never touches a byte of PNG —
    * so a bug anywhere in deflate-inversion or any filter's
    * arithmetic diverges immediately. OpsSpec pins the decoder
    * against a hand-assembled stored-block PNG (encoder-independent)
    * plus corrupt/zip-bomb/truncation fixtures.
    */
  def m05(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.pngPixelStats(spark, 64L)
      .orderBy(col("media_id"))

  val m05Sql: String =
    """WITH dims AS (
         SELECT range AS media_id,
           CAST(8 + (range * 2654435761) % 48 AS INT) AS width,
           CAST(8 + (range * 40503) % 40 AS INT) AS height,
           CAST(CASE range % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
                AS INT) AS channels
         FROM range(64)),
       px AS (
         SELECT d.media_id, d.width, d.height, d.channels, c.range AS c,
           (x.range * 7 + y.range * 13 + c.range * 29 + d.media_id * 31)
             % 256 AS v
         FROM dims d
         JOIN range(56) x ON x.range < d.width
         JOIN range(48) y ON y.range < d.height
         JOIN range(4) c ON c.range < d.channels)
       SELECT media_id, width, height, channels,
         CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_c0,
         CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_c1,
         CAST(sum(CASE WHEN c = 2 THEN v END) AS BIGINT) AS sum_c2,
         CAST(sum(CASE WHEN c = 3 THEN v END) AS BIGINT) AS sum_c3
       FROM px
       GROUP BY media_id, width, height, channels
       ORDER BY media_id"""

  /** REAL image resize (m06): 4x4 nearest-neighbor thumbnails computed
    * from the DECODED pixel buffer (Multimodal.resizeNearest over
    * PixelCodec output — never from the fixture's formula), one row
    * per thumbnail pixel. The oracle recomputes each sampled value
    * from the closed form + the exact integer source-index arithmetic
    * (sx = tx*W/4 floored), so a bug in decode OR sampling diverges;
    * values are small ints, so the comparison is hash-exact.
    */
  def m06(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.pngThumbnails(spark, 64L, 4)
      .orderBy(col("media_id"), col("ty"), col("tx"))

  val m06Sql: String =
    """WITH dims AS (
         SELECT range AS media_id,
           CAST(8 + (range * 2654435761) % 48 AS INT) AS width,
           CAST(8 + (range * 40503) % 40 AS INT) AS height,
           CAST(CASE range % 3 WHEN 0 THEN 1 WHEN 1 THEN 3 ELSE 4 END
                AS INT) AS channels
         FROM range(64)),
       grid AS (
         SELECT d.media_id, d.channels,
           CAST(tx.range AS INT) AS tx, CAST(ty.range AS INT) AS ty,
           (tx.range * d.width) // 4 AS sx,
           (ty.range * d.height) // 4 AS sy
         FROM dims d, range(4) tx, range(4) ty)
       SELECT media_id, tx, ty,
         CAST((sx*7 + sy*13 + media_id*31) % 256 AS INT) AS c0,
         CASE WHEN channels > 1
           THEN CAST((sx*7 + sy*13 + 29 + media_id*31) % 256 AS INT)
         END AS c1,
         CASE WHEN channels > 1
           THEN CAST((sx*7 + sy*13 + 58 + media_id*31) % 256 AS INT)
         END AS c2,
         CASE WHEN channels > 3
           THEN CAST((sx*7 + sy*13 + 87 + media_id*31) % 256 AS INT)
         END AS c3
       FROM grid ORDER BY media_id, ty, tx"""

  /** REAL audio sample decode (m07): complete 16-bit PCM WAVs carry
    * closed-form interleaved samples; the distributed decode
    * (Multimodal.PcmCodec — pure JVM, PCM needs no codec library)
    * must recover every sample exactly. Output is per-channel integer
    * SUMS and PEAKS, so the comparison is hash-exact; the oracle
    * recomputes them from the sample formula alone, never touching a
    * byte of WAV.
    */
  def m07(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.pcmSampleStats(spark, 64L)
      .orderBy(col("media_id"))

  val m07Sql: String =
    """WITH dims AS (
         SELECT range AS media_id,
           CAST(1 + range % 2 AS INT) AS channels,
           CAST(8000 + (range % 5) * 1000 AS INT) AS sample_rate,
           CAST(50 + (range * 13) % 50 AS BIGINT) AS n_frames
         FROM range(64)),
       s AS (
         SELECT d.media_id, d.channels, d.sample_rate, d.n_frames,
           c.range AS c,
           ((f.range*7 + c.range*11 + d.media_id*31) % 65536) - 32768 AS v
         FROM dims d
         JOIN range(100) f ON f.range < d.n_frames
         JOIN range(2) c ON c.range < d.channels)
       SELECT media_id, channels, sample_rate, n_frames,
         CAST(sum(CASE WHEN c = 0 THEN v END) AS BIGINT) AS sum_c0,
         CAST(sum(CASE WHEN c = 1 THEN v END) AS BIGINT) AS sum_c1,
         CAST(max(CASE WHEN c = 0 THEN abs(v) END) AS INT) AS peak_c0,
         CAST(max(CASE WHEN c = 1 THEN abs(v) END) AS INT) AS peak_c1
       FROM s GROUP BY media_id, channels, sample_rate, n_frames
       ORDER BY media_id"""

  /** REAL baseline JPEG pixel decode (m08): complete spec-valid
    * baseline JPEGs (canonical Huffman tables, byte-stuffed entropy
    * scan, grayscale 4:4:4 / color 4:4:4 / color 4:2:0 by id) carry
    * closed-form DC-only content; the distributed decode
    * ([[graft.ops.Jpeg]] — marker walk, Huffman entropy decode,
    * dequant, double IDCT, chroma upsample, JFIF YCbCr->RGB, no media
    * libs) must recover every sample exactly. The fixtures pin
    * q00 = 8*qf so each sample is exact integer arithmetic
    * (dc*qf + 128) with no rounding boundary, and the color transform
    * is floor(x + 0.5) over IEEE doubles both engines compute
    * identically. Output is per-channel integer SUMS (the m05 shape);
    * the oracle recomputes them from the block formulas alone — it
    * never touches a JPEG byte. OpsSpec pins AC coefficients and
    * restart intervals against the naive-reference IDCT, plus the
    * hostile battery (truncated scan, bad Huffman table, dimension
    * bomb, progressive classify).
    */
  def m08(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Jpeg.jpegPixelStats(spark, 64L)
      .orderBy(col("media_id"))

  val m08Sql: String =
    """WITH dims AS (
         SELECT range AS media_id,
           CAST(16 * (1 + (range * 2654435761) % 3) AS INT) AS w,
           CAST(16 * (1 + (range * 40503) % 2) AS INT) AS h,
           CAST(range % 3 AS INT) AS mode,
           1 + range % 4 AS qf,
           1 + range % 3 AS qfc
         FROM range(64)),
       blocks AS (
         SELECT d.*, bx.range AS bx, by.range AS by
         FROM dims d
         JOIN range(6) bx ON bx.range < d.w // 8
         JOIN range(4) by ON by.range < d.h // 8),
       vals AS (
         SELECT media_id, mode, w, h,
           ((media_id*7 + bx*3 + by*5) % 32 - 16) * qf + 128 AS yv,
           CASE WHEN mode = 0 THEN NULL ELSE
             ((media_id*11
               + (CASE WHEN mode = 2 THEN bx // 2 ELSE bx END) * 5
               + (CASE WHEN mode = 2 THEN by // 2 ELSE by END) * 7)
              % 24 - 12) * qfc + 128 END AS cbv,
           CASE WHEN mode = 0 THEN NULL ELSE
             ((media_id*13
               + (CASE WHEN mode = 2 THEN bx // 2 ELSE bx END) * 7
               + (CASE WHEN mode = 2 THEN by // 2 ELSE by END) * 3)
              % 24 - 12) * qfc + 128 END AS crv
         FROM blocks),
       rgb AS (
         SELECT media_id, mode, w, h,
           CASE WHEN mode = 0 THEN yv
                ELSE greatest(0, least(255,
                  floor(yv + 1.402*(crv - 128) + 0.5))) END AS c0,
           CASE WHEN mode = 0 THEN NULL
                ELSE greatest(0, least(255,
                  floor(yv - 0.344136*(cbv - 128)
                           - 0.714136*(crv - 128) + 0.5))) END AS c1,
           CASE WHEN mode = 0 THEN NULL
                ELSE greatest(0, least(255,
                  floor(yv + 1.772*(cbv - 128) + 0.5))) END AS c2
         FROM vals)
       SELECT media_id,
         CAST(w AS INT) AS width, CAST(h AS INT) AS height,
         CAST(CASE WHEN mode = 0 THEN 1 ELSE 3 END AS INT) AS channels,
         CAST(sum(c0) * 64 AS BIGINT) AS sum_c0,
         CAST(sum(c1) * 64 AS BIGINT) AS sum_c1,
         CAST(sum(c2) * 64 AS BIGINT) AS sum_c2
       FROM rgb
       GROUP BY media_id, w, h, mode
       ORDER BY media_id"""

  /** MP4 sample-table walk (m09): frame count, total coded bytes,
    * duration-weighted bitrate, keyframe density and chunk count from
    * stsz/stts/stss/stco-or-co64 — pure box-walk arithmetic
    * (Multimodal.VideoCodec.decodeSampleTables), the actual filter
    * signals a video curation pipeline uses, with no codec work. The
    * fixtures fork every variant (constant-size vs per-sample stsz,
    * stss present vs absent == all-sync, 32-bit stco vs 64-bit co64,
    * junk siblings at every level); the oracle recomputes everything
    * from the closed-form table contents — it never touches an MP4
    * byte. OpsSpec pins the hostile battery (truncated tables, count
    * overflow, stts/stsz disagreement, zero timescale).
    */
  def m09(spark: SparkSession, dir: String): DataFrame =
    graft.ops.Multimodal.videoSampleStats(spark, 64L)
      .orderBy(col("media_id"))

  val m09Sql: String =
    """WITH dims AS (
         SELECT range AS media_id,
           1000 + 100 * (range % 9) AS ts,
           24 + (range * 13) % 60 AS n,
           100 + range % 50 AS d1,
           150 + range % 30 AS d2,
           1 + range % 5 AS k,
           1 + range % 7 AS m
         FROM range(64)),
       persample AS (
         SELECT d.media_id,
                sum(200 + (d.media_id * 31 + i.range * 7) % 800) AS tb
         FROM dims d JOIN range(84) i ON i.range < d.n
         GROUP BY d.media_id),
       base AS (
         SELECT d.media_id, d.n, d.m,
           CASE WHEN d.media_id % 3 = 0
                THEN d.n * (200 + (d.media_id * 31) % 800)
                ELSE p.tb END AS total_bytes,
           ((d.n // 2) * d.d1 + (d.n - d.n // 2) * d.d2) * 1000 // d.ts
             AS duration_ms,
           CASE WHEN d.media_id % 4 = 3 THEN d.n
                ELSE (d.n - 1) // d.k + 1 END AS n_key
         FROM dims d JOIN persample p USING (media_id))
       SELECT media_id,
         CAST(n AS BIGINT) AS n_frames,
         CAST(total_bytes AS BIGINT) AS total_bytes,
         CAST(duration_ms AS BIGINT) AS duration_ms,
         CAST(total_bytes * 8000 // duration_ms AS BIGINT) AS bitrate_bps,
         CAST(n_key AS BIGINT) AS n_keyframes,
         CAST(n_key * 1000 // n AS BIGINT) AS keyframe_density_x1000,
         CAST(m AS BIGINT) AS n_chunks
       FROM base ORDER BY media_id"""

  // ---------------------------------------------------------------- //

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q01_lineitem_agg" -> (q01 _),
    "q02_watermark_cutoff" -> (q02 _),
    "q03_exclude_pattern" -> (q03 _),
    "q04_zero_length_skip" -> (q04 _),
    "q05_discovery_sort" -> (q05 _),
    "q06_grok_extract" -> (q06 _),
    "q07_header_propagation" -> (q07 _),
    "q08_sessionize" -> (q08 _),
    "q09_broadcast_enrich" -> (q09 _),
    "q10_routing_fanout" -> (q10 _),
    "q11_routed_equality" -> (q11 _),
    "q12_hourly_window" -> (q12 _),
    "q13_checkpoint_identity" -> (q13 _),
    "q14_json_decode" -> (q14 _),
    "q15_topk" -> (q15 _),
    "q16_set_ops" -> (q16 _),
    "q17_scalar_battery" -> (q17 _),
    "q18_storage_class_filter" -> (q18 _),
    "q19_archive_antijoin" -> (q19 _),
    "q20_multiline_merge" -> (q20 _),
    "q21_corrupt_json_deadletter" -> (q21 _),
    "q22_glacier_restore_header" -> (q22 _),
    "q23_multiline_configured" -> (q23 _),
    "q24_json_codec_mode" -> (q24 _),
    "q25_percentiles" -> (q25 _),
    "q26_cube" -> (q26 _),
    "d01_dedup_exact" -> (d01 _),
    "d02_token_count" -> (d02 _),
    "d03_quality_score" -> (d03 _),
    "d04_langid" -> (d04 _),
    "d05_fingerprint" -> (d05 _),
    "d06_ngram_jaccard" -> (d06 _),
    "d07_minhash" -> (d07 _),
    "d08_minhash_lsh_pairs" -> (d08 _),
    "d09_simhash" -> (d09 _),
    "d10_rolling_fingerprint" -> (d10 _),
    "d11_curation_pipeline" -> (d11 _),
    "d12_simhash_neardup_pairs" -> (d12 _),
    "d13_repetition" -> (d13 _),
    "d14_chunking" -> (d14 _),
    "d15_contamination" -> (d15 _),
    "d18_neardup_clusters" -> (d18 _),
    "d19_curated_corpus" -> (d19 _),
    "d20_crosscycle_dedup" -> (d20 _),
    "d21_incremental_lsh" -> (d21 _),
    "d22_bpe_tokens" -> (d22 _),
    "d23_incremental_clusters" -> (d23 _),
    "d24_lm_perplexity" -> (d24 _),
    "d16_pii_census" -> (d16 _),
    "d17_stratified_sample" -> (d17 _),
    "e01_cosine_topk" -> (e01 _),
    "e02_cosine_neardup" -> (e02 _),
    "e03_lsh_buckets" -> (e03 _),
    "e04_ivf_assignment" -> (e04 _),
    "e05_ivf_topk" -> (e05 _),
    "e06_kmeans_iteration" -> (e06 _),
    "e07_lsh_topk" -> (e07 _),
    "e08_kmeans_converged" -> (e08 _),
    "e09_kmeanspp_seeding" -> (e09 _),
    "e10_incremental_ivf" -> (e10 _),
    "e11_ivf_reseed" -> (e11 _),
    "f01_rolling_hash_native" -> (f01 _),
    "p01_pipeline_fanout" -> (p01 _),
    "p02_pipeline_hourly" -> (p02 _),
    "m01_multimodal_features" -> (m01 _),
    "m02_image_header_decode" -> (m02 _),
    "m03_audio_header_decode" -> (m03 _),
    "m04_video_header_decode" -> (m04 _),
    "m05_png_pixel_decode" -> (m05 _),
    "m06_png_thumbnail" -> (m06 _),
    "m07_pcm_sample_decode" -> (m07 _),
    "m08_jpeg_pixel_decode" -> (m08 _),
    "m09_mp4_sample_tables" -> (m09 _)
  )

  val oracleSql: Map[String, String] = Map(
    "q01_lineitem_agg" -> q01Sql,
    "q02_watermark_cutoff" -> q02Sql,
    "q03_exclude_pattern" -> q03Sql,
    "q04_zero_length_skip" -> q04Sql,
    "q05_discovery_sort" -> q05Sql,
    "q06_grok_extract" -> q06Sql,
    "q07_header_propagation" -> q07Sql,
    "q08_sessionize" -> q08Sql,
    "q09_broadcast_enrich" -> q09Sql,
    "q10_routing_fanout" -> q10Sql,
    "q11_routed_equality" -> q11Sql,
    "q12_hourly_window" -> q12Sql,
    "q13_checkpoint_identity" -> q13Sql,
    "q14_json_decode" -> q14Sql,
    "q15_topk" -> q15Sql,
    "q16_set_ops" -> q16Sql,
    "q17_scalar_battery" -> q17Sql,
    "q18_storage_class_filter" -> q18Sql,
    "q19_archive_antijoin" -> q19Sql,
    "q20_multiline_merge" -> q20Sql,
    "q21_corrupt_json_deadletter" -> q21Sql,
    "q22_glacier_restore_header" -> q22Sql,
    "q23_multiline_configured" -> q23Sql,
    "q24_json_codec_mode" -> q24Sql,
    "q25_percentiles" -> q25Sql,
    "q26_cube" -> q26Sql,
    "d01_dedup_exact" -> d01Sql,
    "d02_token_count" -> d02Sql,
    "d03_quality_score" -> d03Sql,
    "d04_langid" -> d04Sql,
    "d05_fingerprint" -> d05Sql,
    "d06_ngram_jaccard" -> d06Sql,
    "d07_minhash" -> d07Sql,
    "d08_minhash_lsh_pairs" -> d08Sql,
    "d09_simhash" -> d09Sql,
    "d10_rolling_fingerprint" -> d10Sql,
    "d11_curation_pipeline" -> d11Sql,
    "d12_simhash_neardup_pairs" -> d12Sql,
    "d13_repetition" -> d13Sql,
    "d14_chunking" -> d14Sql,
    "d15_contamination" -> d15Sql,
    "d18_neardup_clusters" -> d18Sql,
    "d19_curated_corpus" -> d19Sql,
    "d20_crosscycle_dedup" -> d20Sql,
    "d21_incremental_lsh" -> d21Sql,
    "d22_bpe_tokens" -> d22Sql,
    "d23_incremental_clusters" -> d23Sql,
    "d24_lm_perplexity" -> d24Sql,
    "d16_pii_census" -> d16Sql,
    "d17_stratified_sample" -> d17Sql,
    "e01_cosine_topk" -> e01Sql,
    "e02_cosine_neardup" -> e02Sql,
    "e03_lsh_buckets" -> e03Sql,
    "e04_ivf_assignment" -> e04Sql,
    "e05_ivf_topk" -> e05Sql,
    "e06_kmeans_iteration" -> e06Sql,
    "e07_lsh_topk" -> e07Sql,
    "e08_kmeans_converged" -> e08Sql,
    "e09_kmeanspp_seeding" -> e09Sql,
    "e10_incremental_ivf" -> e10Sql,
    "e11_ivf_reseed" -> e11Sql,
    "f01_rolling_hash_native" -> f01Sql,
    "m01_multimodal_features" -> m01Sql,
    "m02_image_header_decode" -> m02Sql,
    "m03_audio_header_decode" -> m03Sql,
    "m04_video_header_decode" -> m04Sql,
    "m05_png_pixel_decode" -> m05Sql,
    "m06_png_thumbnail" -> m06Sql,
    "m07_pcm_sample_decode" -> m07Sql,
    "m08_jpeg_pixel_decode" -> m08Sql,
    "m09_mp4_sample_tables" -> m09Sql,
    "p01_pipeline_fanout" -> p01Sql,
    "p02_pipeline_hourly" -> p02Sql
  )
}
