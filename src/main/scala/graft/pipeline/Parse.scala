package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** Grok-style parse stage — the codec-decode analog (P1-P5).
  *
  * The reference decodes each line through a pluggable codec
  * (s3.rb:224-239) and folds `#Version:`/`#Fields:` header lines into
  * per-file state stamped onto subsequent events (s3.rb:266-290). We
  * re-express that as:
  *
  *  - a compiled pattern dictionary (the north-star "grok dictionary"),
  *    applied two ways: a Catalyst column fast path (`regexp_extract`
  *    trees — fully codegen'd and pushdown-transparent, the default),
  *    and a typed `mapPartitions` path with patterns compiled once per
  *    partition (for callers who want `Dataset[ParsedLine]`);
  *  - header classification + consumption (P4) with propagation onto
  *    subsequent turns via a distributed prefix scan (P5) — see
  *    [[PrefixOps]];
  *  - continuation-line sessionization (multiline codec analog, P3),
  *    whitespace-driven by default and config-driven in
  *    [[sessionizeConfigured]], the one reading of `pattern`/`negate`/
  *    `what`;
  *  - dead-letter classification for non-conformant lines instead of a
  *    job failure ("broken files are skipped without crashing",
  *    s3.rb:292-301, CHANGELOG 3.3.5).
  *
  * The `text` column is never rewritten (byte-equality invariant): every
  * extraction lands in a new column.
  */
object Parse {

  /** The grok dictionary: named patterns, Java-dialect regex. */
  val grokDictionary: Map[String, String] = Map(
    "LOGLINE" -> """^(\d{4}-\d{2}-\d{2}T\d{2}:\d{2}:\d{2}(?:\.\d+)?Z) (TRACE|DEBUG|INFO|WARN|ERROR|FATAL) \[(\w+)\] (.*)$""",
    "HEADER_VERSION" -> """^#Version: (.+)$""",
    "HEADER_FIELDS" -> """^#Fields: (.+)$""",
    "CONTINUATION" -> """^\s+(.*)$""",
    "TOOL_CALL" -> """<tool:(\w+)[^>]*>""")

  /** Typed result of the mapPartitions parse path. */
  case class ParsedLine(
      conv_id: String, turn_idx: Int, role: String, text: String,
      tool: String, ts: java.sql.Timestamp,
      parsed_ts_str: String, level: String, grok_role: String,
      body: String, tool_calls: Seq[String], header_version: String,
      header_fields: String, is_continuation: Boolean, parse_ok: Boolean)

  /** Typed `Dataset.map` parse with the dictionary compiled once per
    * partition (the north-star wording; mirrors the reference compiling
    * its codec/regexes at register time, s3.rb:99-128). Functionally
    * identical to [[parseColumns]] — the column path is preferred in the
    * hot pipeline because it stays inside WholeStageCodegen.
    */
  def parseTyped(ds: Dataset[Turn]): Dataset[ParsedLine] = {
    import ds.sparkSession.implicits._
    ds.mapPartitions { it =>
      val pat = grokDictionary.map { case (k, v) =>
        k -> java.util.regex.Pattern.compile(v)
      }
      val logline = pat("LOGLINE")
      val hdrV = pat("HEADER_VERSION")
      val hdrF = pat("HEADER_FIELDS")
      val cont = pat("CONTINUATION")
      val toolCall = pat("TOOL_CALL")
      it.map { t =>
        val m = logline.matcher(t.text)
        val (pts, lvl, grokRole, body, ok) =
          if (m.matches()) (m.group(1), m.group(2), m.group(3), m.group(4), true)
          else (null, null, null, null, false)
        val mv = hdrV.matcher(t.text)
        val mf = hdrF.matcher(t.text)
        val mc = cont.matcher(t.text)
        val calls = {
          val b = Seq.newBuilder[String]
          val tm = toolCall.matcher(t.text)
          while (tm.find()) b += tm.group(1)
          b.result()
        }
        ParsedLine(t.conv_id, t.turn_idx, t.role, t.text, t.tool, t.ts,
          pts, lvl, grokRole, body, calls,
          if (mv.matches()) mv.group(1) else null,
          if (mf.matches()) mf.group(1) else null,
          mc.matches(), ok)
      }
    }
  }

  /** Column fast path: same extraction as [[parseTyped]] as a Catalyst
    * expression tree (codegen'd, optimizer-visible). Adds columns:
    * parsed_ts, level, body, tool_calls, header_version, header_fields,
    * is_header, is_continuation, parse_ok.
    *
    * Performance shape: the naive encoding — `regexp_extract(text,
    * LOGLINE, i)` once per captured group — runs the big anchored regex
    * FOUR times per row (Catalyst CSE can't merge different group
    * indices), and that regex work dominated the whole pipeline's
    * profile. Since LOGLINE's structure is `ts SP level SP [role] SP
    * body`, one `split(text, " ", 4)` plus per-field validations
    * (a 24-char anchored timestamp regex, an `isin` for the level, a
    * 6-char role check) extracts everything in a single pass over the
    * text. Header extraction is a prefix compare + substring, no regex
    * at all. Semantics match [[parseTyped]]'s whole-string `matches()`
    * exactly (the `\n` guard reproduces Java's "`$` not before an
    * embedded newline").
    */
  def parseColumns(df: DataFrame): DataFrame = {
    val parts = split(col("text"), " ", 4)
    val tsStr = try_element_at(parts, lit(1))
    val levelC = try_element_at(parts, lit(2))
    val roleC = try_element_at(parts, lit(3))
    df
      .withColumn("_ok",
        size(parts) === 4 &&
          !col("text").contains("\n") &&
          tsStr.rlike("^\\d{4}-\\d{2}-\\d{2}T\\d{2}:\\d{2}:\\d{2}(\\.\\d+)?Z$") &&
          levelC.isin("TRACE", "DEBUG", "INFO", "WARN", "ERROR", "FATAL") &&
          roleC.rlike("^\\[\\w+\\]$"))
      .withColumn("parsed_ts",
        when(col("_ok"),
          to_timestamp(tsStr, "yyyy-MM-dd'T'HH:mm:ss[.SSS]'Z'")))
      .withColumn("level", when(col("_ok"), levelC))
      // the role AS WRITTEN IN THE LINE (brackets stripped) — for
      // file-ingested turns (sources.GzipPatternSource.readAsTurns) the
      // role column is a placeholder and routing uses this instead
      // brackets stripped by substring, NOT a regex: _ok already proved
      // the token matches ^\[\w+\]$, and this runs per row in the hot
      // parse path
      .withColumn("grok_role",
        when(col("_ok"), roleC.substr(lit(2), length(roleC) - 2)))
      .withColumn("body", when(col("_ok"), try_element_at(parts, lit(4))))
      .withColumn("tool_calls",
        regexp_extract_all(col("text"),
          lit(grokDictionary("TOOL_CALL")), lit(1)))
      .withColumn("header_version",
        when(col("text").startsWith("#Version: ") &&
          length(col("text")) > 10 && !col("text").contains("\n"),
          substring(col("text"), 11, Int.MaxValue)))
      .withColumn("header_fields",
        when(col("text").startsWith("#Fields: ") &&
          length(col("text")) > 9 && !col("text").contains("\n"),
          substring(col("text"), 10, Int.MaxValue)))
      .withColumn("is_header",
        col("header_version").isNotNull || col("header_fields").isNotNull)
      .withColumn("is_continuation",
        col("text").rlike(grokDictionary("CONTINUATION")))
      .withColumn("parse_ok", col("level").isNotNull)
      .drop("_ok")
  }

  /** The reference multiline codec's full configuration surface
    * (spec/inputs/s3_spec.rb:486: `pattern`/`negate`/`what`).
    * A line "belongs to a multiline event" when its text matches
    * `pattern` (inverted by `negate`); `what` says which neighbor it
    * glues to: `previous` appends it to the preceding record, `next`
    * glues it to the following line.
    */
  case class MultilineConfig(pattern: String, negate: Boolean = false,
      what: String = "previous") {
    require(what == "previous" || what == "next",
      s"what must be previous|next, got $what")
  }

  /** The ONE interpretation of pattern/negate: does this row "belong
    * to a multiline event" under `cfg`?
    */
  def belongsUnder(cfg: MultilineConfig, textCol: String): Column = {
    val matches = col(textCol).rlike(cfg.pattern)
    if (cfg.negate) !matches else matches
  }

  /** Config-driven multiline grouping (the `LogStash::Codecs::Multiline`
    * analog) and the ONE interpretation of `what`: adds `session_id` =
    * the record id under `cfg` and `is_continuation` = "this row
    * continues the current record", in ONE [[PrefixOps.scanMany]] call
    * that also carries `lastCols` (the pipeline's header columns). The
    * reference fixture (`__SEPARATOR__`, negate=true, what=previous -> 2
    * records from multiline.log) is the golden test.
    *
    *  - what=previous: a row continues iff it belongs ([[belongsUnder]]);
    *    the record id is the running count of non-belonging rows;
    *  - what=next: a row continues iff the PREVIOUS row belonged (the
    *    first row of a conversation always starts) — the scan's lag. Its
    *    record id is 1 + the number of non-belonging rows BEFORE it: the
    *    same running count minus the row's own indicator, plus 1.
    *
    * `carryIn` is the scan's ([[PrefixOps.scanMany]]): `session_id` is
    * the last earlier row's running count (its record id, minus 1 under
    * what=next when it belongs) and `prev_belongs` whether it belonged.
    */
  def sessionizeConfigured(df: DataFrame, cfg: MultilineConfig,
      chunkSize: Int = 4096, convCol: String = "conv_id",
      idxCol: String = "turn_idx", textCol: String = "text",
      lastCols: Seq[(Column, String)] = Nil,
      carryIn: Option[DataFrame] = None): DataFrame = {
    val next = cfg.what == "next"
    val start = when(coalesce(col("_belongs"), lit(false)), lit(0))
      .otherwise(lit(1))
    val scanned = PrefixOps.scanMany(
      df.withColumn("_belongs", belongsUnder(cfg, textCol)), lastCols,
      Some(start -> "session_id"), chunkSize, convCol, idxCol,
      lag = if (next) Some(col("_belongs") -> "prev_belongs") else None,
      carryIn = carryIn)
    val grouped =
      if (next) scanned
        .withColumn("session_id", col("session_id") - start + 1)
        .withColumn("is_continuation",
          coalesce(col("prev_belongs"), lit(false)))
      else scanned.withColumn("is_continuation", col("_belongs"))
    grouped.drop("_belongs", "prev_belongs")
  }

  /** P2: JSON codec mode (spec:397-441; fixtures json.log,
    * json_with_message.log). Whole-event JSON decode with top-level
    * field promotion (`json_<field>` columns), corrupt-record routing
    * (json_ok=false -> deadletter, never a job failure) and the
    * reference's message-passthrough rule: a `message` whose JSON value
    * is NOT a string ("Avoid parsing non string elements",
    * CHANGELOG.md:85) survives as its raw JSON text in `json_message`
    * rather than nulling out.
    *
    * `text` is never rewritten (byte-equality invariant) — all decode
    * output lands in new columns.
    */
  def parseJsonColumns(df: DataFrame,
      fields: org.apache.spark.sql.types.StructType,
      textCol: String = "text"): DataFrame = {
    import org.apache.spark.sql.types.StringType
    val schema = fields.add("_corrupt", StringType)
    val parsed = df.withColumn("_j", from_json(col(textCol), schema,
      Map("mode" -> "PERMISSIVE", "columnNameOfCorruptRecord" -> "_corrupt")))
    // validity = the text IS a JSON document (a field-level type mismatch
    // does not condemn the event — the reference emits json_with_message
    // rows as normal events). The bare document `null` IS valid JSON
    // (json_valid('null') = true, the semantics the q24 oracle uses) but
    // get_json_object returns SQL NULL for it — special-cased so it is
    // not dead-lettered.
    // JSON whitespace is exactly space/tab/CR/LF (not Java's \s, which
    // adds \x0B\f and would diverge from json_valid on those bytes).
    // coalesce keeps json_ok two-valued: a NULL text makes the rlike leg
    // NULL (false || NULL = NULL in 3VL), and downstream
    // `when(!json_ok, ...)` deadletter accounting would silently skip
    // such rows instead of counting them
    val withOk = parsed.withColumn("json_ok",
      coalesce(
        get_json_object(col(textCol), "$").isNotNull ||
          col(textCol).rlike("^[ \\t\\r\\n]*null[ \\t\\r\\n]*$"),
        lit(false)))
    val promoted = fields.fields.foldLeft(withOk) { (acc, f) =>
      if (f.name == "message")
        acc.withColumn("json_message",
          coalesce(col("_j.message").cast(StringType),
            when(col("json_ok"),
              get_json_object(col(textCol), "$.message"))))
      else acc.withColumn(s"json_${f.name}", col(s"_j.${f.name}"))
    }
    promoted.drop("_j")
  }

  /** Merge each multiline session into one logical record (the
    * multiline codec's output shape: 2 merged events from 4 physical
    * lines, spec:479-491, including the trailing EOF flush — the last
    * session needs no closing boundary). Sessions are small (a few
    * lines), so the per-group collect_list is bounded.
    */
  def mergeSessions(df: DataFrame): DataFrame = {
    df.groupBy(col("conv_id"), col("session_id"))
      .agg(
        min(col("turn_idx")).as("turn_idx"),
        first(col("role")).as("role"),
        concat_ws("\n",
          transform(
            array_sort(collect_list(struct(col("turn_idx").as("i"),
              col("text").as("t")))),
            x => x.getField("t"))).as("merged_text"),
        count(lit(1)).as("n_lines"),
        min(col("ts")).as("ts"))
  }

  /** The parse stage composed on its own: column extraction plus ONE
    * fused prefix scan — header propagation (P5) and sessionization (P3)
    * share one chunk repartition ([[PrefixOps.scanMany]]). Only tests
    * call it: `Route(Enrich(Parse(...)))` is the composed reference that
    * PipelineSpec compares [[Pipeline]] (which routes and enriches
    * before its scan) against.
    */
  def apply(ds: Dataset[Turn], chunkSize: Int = 4096): DataFrame =
    PrefixOps.scanMany(parseColumns(ds.toDF()),
      Seq(col("header_version") -> "header"),
      Some(when(col("is_continuation"), lit(0)).otherwise(lit(1)) ->
        "session_id"),
      chunkSize)
}
