package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._

/** Native Catalyst expressions for media FEATURE work inside the
  * routed cycle — the opt-in stage (`PipelineConfig.mediaFeatures` /
  * `mediaThumbSide`) that puts content statistics and thumbnails
  * where routing happens, not in a separate job. Same discipline (and
  * the same [[StaticMediaExpr]] shape) as [[MediaHeader]]: evaluated in
  * the narrow map that already holds the blob bytes, so payloads never
  * shuffle for it.
  *
  * Coverage is exactly the REAL sample-decode surface, the dispatch
  * [[graft.ops.Multimodal.realFeatures]] that the batch
  * `decodeFeatures` also takes (PNG pixels, baseline JPEG pixels,
  * 16-bit PCM samples): a blob none of them can decode yields NULL —
  * the null-flag contract (the row keeps riding; the header stage has
  * already dead-lettered anything whose CONTAINER is corrupt). The
  * disclosed video-frame stub ([[graft.ops.Multimodal.StubCodec]]) is
  * deliberately NOT in this dispatch: it requires its own synthetic
  * magic and a production cycle must never fabricate features for real
  * MP4 bytes.
  */
object MediaFeatureNative {

  val featSchema: StructType = StructType(Seq(
    StructField("checksum", LongType),
    StructField("feat", ArrayType(FloatType, containsNull = false))))

  /** Static entry point shared by interpreted eval and generated code.
    * Null == no pixel/sample-decodable content (not an error).
    */
  def features(payload: Array[Byte], dims: Int): InternalRow =
    graft.ops.Multimodal.realFeatures(payload, dims)
      .map { case (ck, f) => row(ck, f) }.orNull

  private def row(checksum: Long, feat: Array[Float]): InternalRow =
    new GenericInternalRow(Array[Any](checksum,
      new GenericArrayData(feat.map(v => v: Any))))

  /** Nearest-neighbor thumbnail bytes (side x side x channels), null
    * unless the blob decodes as PNG pixels.
    */
  def thumb(payload: Array[Byte], side: Int): Array[Byte] =
    graft.ops.Multimodal.PixelCodec.decodePng(payload)
      .map(graft.ops.Multimodal.resizeNearest(_, side)).orNull
}

/** struct(checksum, feat) of one media blob, or null when no real
  * sample decode covers it.
  */
case class MediaFeatureVec(child: Expression, dims: Int)
    extends StaticMediaExpr {

  override def dataType: DataType = MediaFeatureNative.featSchema
  override def prettyName: String = "media_features"
  protected def decode(payload: Array[Byte]): Any =
    MediaFeatureNative.features(payload, dims)
  protected def javaCall(c: String): String =
    s"graft.functions.MediaFeatureNative.features($c, $dims)"

  override protected def withNewChildInternal(newChild: Expression): MediaFeatureVec =
    copy(child = newChild)
}

/** Thumbnail bytes of one media blob (PNG pixels only), null
  * otherwise.
  */
case class MediaThumb(child: Expression, side: Int)
    extends StaticMediaExpr {

  override def dataType: DataType = BinaryType
  override def prettyName: String = "media_thumb"
  protected def decode(payload: Array[Byte]): Any =
    MediaFeatureNative.thumb(payload, side)
  protected def javaCall(c: String): String =
    s"graft.functions.MediaFeatureNative.thumb($c, $side)"

  override protected def withNewChildInternal(newChild: Expression): MediaThumb =
    copy(child = newChild)
}

object MediaFeatureExprs {
  import org.apache.spark.sql.graftshim.{columnOf, expressionOf}

  def mediaFeatures(payload: Column, dims: Int = 16): Column =
    columnOf(MediaFeatureVec(expressionOf(payload), dims))

  def mediaThumb(payload: Column, side: Int): Column =
    columnOf(MediaThumb(expressionOf(payload), side))
}
