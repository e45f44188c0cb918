package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Native Catalyst expression: one-pass media-container HEADER decode
  * of a binary blob — the engine's routed-multimodal stage
  * ([[graft.pipeline.Main]]'s `mediaStage`) evaluates it in the same
  * narrow map as routing, so blobs are classified and their metadata
  * extracted without ever shuffling payload bytes. Dispatch is by
  * magic bytes across the REAL pure-JVM container walks (PNG IHDR,
  * JPEG marker walk, RIFF/WAVE chunk walk, ISO-BMFF box walk —
  * [[graft.ops.Multimodal]]), and every field is a projection of one
  * of those parsers: no format is parsed or converted here. Anything
  * none of them accepts yields a NULL struct, which the stage routes to
  * the dead-letter sink (the corrupt-JSON discipline: visible, never
  * dropped).
  *
  * Result struct (fields a format doesn't define are null):
  * kind, width, height, channels, sample_rate, bits, duration_ms.
  */
case class MediaHeader(child: Expression) extends StaticMediaExpr {

  override def dataType: DataType = MediaHeader.schema
  override def prettyName: String = "media_header"
  protected def decode(payload: Array[Byte]): Any =
    MediaHeader.compute(payload)
  protected def javaCall(c: String): String =
    s"graft.functions.MediaHeader.compute($c)"

  override protected def withNewChildInternal(newChild: Expression): MediaHeader =
    copy(child = newChild)
}

/** A media-blob expression with ONE static entry point, `decode` in
  * interpreted eval and `javaCall` (the same call as Java source) in
  * generated code. Its result is null for NON-NULL undecodable input,
  * so the defineCodeGen shortcut (child-pinned isNull) does not apply:
  * generated code assigns, then derives isNull from the value.
  */
trait StaticMediaExpr extends UnaryExpression {
  protected def decode(payload: Array[Byte]): Any
  protected def javaCall(c: String): String

  override def nullable: Boolean = true

  override protected def nullSafeEval(input: Any): Any =
    decode(input.asInstanceOf[Array[Byte]])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => s"""
      ${ev.value} = ${javaCall(c)};
      ${ev.isNull} = (${ev.value} == null);
    """)
}

object MediaHeader {
  import graft.ops.Multimodal.{AudioCodec, ImageCodec, VideoCodec}

  val schema: StructType = StructType(Seq(
    StructField("kind", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("channels", IntegerType),
    StructField("sample_rate", IntegerType),
    StructField("bits", IntegerType),
    StructField("duration_ms", LongType),
    // video sample-table signals (m09) — null unless the blob is an
    // MP4 whose stbl parses (decodeSampleTables); the header fields
    // above stay valid either way, so a table-less MP4 is NOT
    // undecodable, it just lacks these
    StructField("n_frames", LongType),
    StructField("bitrate_bps", LongType),
    StructField("keyframe_density_x1000", LongType)))

  /** Static entry point shared by interpreted eval and generated code.
    * Null result == undecodable. Each codec gates on its own magic, so
    * the dispatch order carries no semantics.
    */
  def compute(payload: Array[Byte]): InternalRow =
    ImageCodec.decodeDims(payload).map { case (fmt, w, h) =>
      row(fmt, Int.box(w), Int.box(h), null, null, null, null, null, null,
        null)
    }.orElse(AudioCodec.decodeWavMs(payload).map { case (ch, rate, bits, ms) =>
      row("wav", null, null, Int.box(ch), Int.box(rate), Int.box(bits),
        Long.box(ms), null, null, null)
    }).orElse(VideoCodec.decodeMp4(payload).map { case (w, h, durMs) =>
      // sample-table signals when the stbl parses AND has metrics —
      // absent otherwise, without demoting the header decode
      val (frames, bps, kf) = VideoCodec.decodeSampleTables(payload)
        .flatMap(s => s.metrics.map { case (_, b, k) =>
          (Long.box(s.nFrames), Long.box(b), Long.box(k))
        }).getOrElse((null, null, null))
      row("mp4", Int.box(w), Int.box(h), null, null, null,
        Long.box(durMs), frames, bps, kf)
    }).orNull

  private def row(kind: String, vals: Any*): InternalRow =
    new GenericInternalRow(
      (UTF8String.fromString(kind) +: vals).toArray[Any])

  def mediaHeader(payload: Column): Column =
    org.apache.spark.sql.graftshim.columnOf(
      MediaHeader(org.apache.spark.sql.graftshim.expressionOf(payload)))
}
