package graft.pipeline

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** The canonical operator composition for one pipeline pass:
  *
  *   parseColumns -> Route -> Enrich -> fused prefix scan
  *
  * Ordering rationale (plan quality, not semantics — for the grok and
  * json codecs all four stages commute): routing and enrichment are
  * NARROW column expressions (enrichment is a constant-map lookup), so
  * running them before the prefix scan's (conv_id, chunk) repartition
  * means the shuffle is
  * the LAST wide step and Catalyst's column pruning can drop any column
  * a given consumer doesn't use from the shuffle itself. An
  * aggregate-only consumer (metrics, Bench) shuffles ~half the bytes
  * because `text`/`body` are pruned; sink writers still see every
  * column.
  *
  * The multiline codec is the exception: parseColumns -> Enrich ->
  * [[Parse.sessionizeConfigured]] -> Route. Under `what=next` a row's
  * `is_continuation` (which routing reads) is the previous row's match,
  * an output of the scan, so routing cannot precede it; `Route` is a
  * narrow column expression, so running it last adds no shuffle.
  */
object Pipeline {

  /** Pluggable codec — the reference's `codec` config is first-class
    * (plain/json/multiline plugins, s3.rb:35, 224-245; spec:397-491).
    *
    *  - [[GrokCodec]] (default): the grok dictionary parse with
    *    whitespace-continuation sessionization;
    *  - [[JsonCodec]]: whole-event JSON decode (Parse.parseJsonColumns) —
    *    invalid JSON routes to `deadletter`, every event is its own
    *    record;
    *  - [[MultilineCodec]]: grok parse with CONFIG-DRIVEN record
    *    grouping (pattern/negate/what); lines that continue a record
    *    under the config are never dead-lettered.
    */
  sealed trait Codec
  case object GrokCodec extends Codec
  case class JsonCodec(fields: org.apache.spark.sql.types.StructType)
    extends Codec
  case class MultilineCodec(cfg: Parse.MultilineConfig) extends Codec

  /** `carryIn` is the scan's ([[PrefixOps.scanMany]]): `conv_id`,
    * `header`, `header_fields_carried`, `session_id` and, for the
    * multiline codec, `prev_belongs` ([[Parse.sessionizeConfigured]]).
    */
  def apply(ds: Dataset[Turn], excludePattern: String = "",
      chunkSize: Int = 4096,
      includeObjectProperties: Boolean = false,
      codec: Codec = GrokCodec,
      carryIn: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.types.StringType
    // BOTH header families propagate (the reference carries
    // cloudfront_version AND cloudfront_fields per file, s3.rb:280-290),
    // still one fused shuffle (scanMany).
    val headers = Seq(col("header_version") -> "header",
      col("header_fields") -> "header_fields_carried")
    // the codec decode produces the routing-contract columns (parse_ok,
    // is_header, is_continuation, header_version/fields)
    def routeThenScan(parsed: DataFrame): DataFrame =
      PrefixOps.scanMany(Enrich(Route(parsed, excludePattern)), headers,
        Some(when(col("is_continuation"), lit(0)).otherwise(lit(1)) ->
          "session_id"),
        chunkSize, carryIn = carryIn)
    val scanned = codec match {
      case GrokCodec => routeThenScan(Parse.parseColumns(ds.toDF()))
      case JsonCodec(fields) =>
        routeThenScan(Parse.parseJsonColumns(ds.toDF(), fields)
          .withColumn("parse_ok", col("json_ok"))
          .withColumn("is_header", lit(false))
          .withColumn("is_continuation", lit(false))
          .withColumn("header_version", lit(null).cast(StringType))
          .withColumn("header_fields", lit(null).cast(StringType))
          .withColumn("grok_role", lit(null).cast(StringType)))
      case MultilineCodec(mc) =>
        // "continuation" under the CONFIG, overriding the whitespace
        // default: under what=next it is the previous row's match, a
        // scan output, so this codec routes AFTER its one scan
        Route(Parse.sessionizeConfigured(
          Enrich(Parse.parseColumns(ds.toDF())), mc, chunkSize,
          lastCols = headers, carryIn = carryIn), excludePattern)
    }
    withMeta(scanned, includeObjectProperties)
  }

  /** Resolve a [[Codec]] from config strings (the CLI/config surface).
    * Unknown names fail fast — a typo'd `--codec` must abort the cycle,
    * not silently run the default and dead-letter (then watermark past)
    * every row.
    */
  def codecFor(cfg: PipelineConfig): Codec = cfg.codec match {
    case "json" =>
      import org.apache.spark.sql.types.{StringType, StructField, StructType}
      JsonCodec(StructType(cfg.jsonFields.map(StructField(_, StringType))))
    case "multiline" => MultilineCodec(Parse.MultilineConfig(
      cfg.multilinePattern, cfg.multilineNegate, cfg.multilineWhat))
    case "grok" => GrokCodec
    case other =>
      throw new IllegalArgumentException(
        s"unknown codec '$other' (expected grok|json|multiline)")
  }

  /** P7 metadata projection (reference: lib/logstash/inputs/s3.rb:250-264,
    * spec:522-548): every output row ALWAYS carries its source identity
    * (`[@metadata][s3][key]` analog = conv_id here); the full
    * object-properties map is attached only when asked for — the
    * `include_object_properties` flag — since it fattens every row.
    */
  def withMeta(df: DataFrame, includeObjectProperties: Boolean): DataFrame = {
    val base = map(lit("source_conv"), col("conv_id"))
    val full = map_concat(base,
      map(lit("role"), col("role"),
        lit("turn_idx"), col("turn_idx").cast("string"),
        lit("ts"), date_format(col("ts"), "yyyy-MM-dd'T'HH:mm:ssXXX")))
    df.withColumn("meta", if (includeObjectProperties) full else base)
  }

  /** P8 ECS field-name switch (s3.rb:31, 93-97; docs ECS table): pure
    * output renaming of the COMPLETE metadata field family — the
    * reference maps `cloudfront_fields` -> `[@metadata][s3][cloudfront]
    * [fields]` and `cloudfront_version` -> `...[version]` when
    * ecs_compatibility=v1, while `[@metadata][s3][key]` (our `meta`
    * source identity) is always set. `disabled` keeps the legacy flat
    * names. No dataflow difference, exactly like the reference.
    */
  val ecsFieldMap: Seq[(String, String)] = Seq(
    "header" -> "meta_transcript_header_version", // cloudfront_version analog
    "header_fields_carried" -> "meta_transcript_header_fields", // cloudfront_fields analog
    "meta" -> "meta_transcript_source") // [@metadata][s3] props analog

  def ecsRename(df: DataFrame, ecsCompatibility: String): DataFrame =
    ecsCompatibility match {
      case "disabled" => df
      case _ => ecsFieldMap.foldLeft(df) { case (acc, (from, to)) =>
        acc.withColumnRenamed(from, to)
      }
    }
}
