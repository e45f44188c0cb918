package graft.ops

import scala.util.Try
import org.scalacheck.{Arbitrary, Gen, Prop, Properties, Test}
import org.scalacheck.Prop.forAllNoShrink

import graft.functions.{MediaFeatureNative, MediaHeader}
import Multimodal.{AudioCodec, ImageCodec, PcmCodec, PixelCodec, VideoCodec}

/** Hostile-input properties over every in-memory media decoder (the
  * reference's broken-file discipline, s3.rb:292-301, applied to
  * blobs): random bytes, and the synthetic and hand-assembled fixtures
  * truncated, byte-flipped or patched with extreme 32-bit values. No
  * decoder may throw, and a sample decoder may accept a blob only when
  * the header sniffer for its format reads the same metadata from it.
  */
object MediaProps extends Properties("media") {

  override def overrideParameters(p: Test.Parameters): Test.Parameters =
    p.withMinSuccessfulTests(50)

  private def b(xs: Int*): Array[Byte] = xs.map(_.toByte).toArray

  /** Valid payloads of every format: each synthetic generator, plus
    * hand-assembled spec fixtures (a CRC'd 1x1 PNG IHDR prefix, a
    * progressive JPEG header, the canonical 44-byte WAV).
    */
  private val seeds: IndexedSeq[Array[Byte]] = {
    val synth = (0L until 12L).flatMap { id =>
      Seq(Multimodal.synthImagePayload(id), Multimodal.synthWavPayload(id),
        Multimodal.synthMp4Payload(id), Multimodal.synthMp4StblPayload(id),
        Multimodal.synthPcmWavPayload(id), Multimodal.synthPngPayload(id),
        Jpeg.synthJpegPayload(id), Jpeg.synthJpegPayload(id, 2),
        Multimodal.synthPayload(id, "image", 8, 8, 0))
    }
    val png1x1 = b(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a,
      0x00, 0x00, 0x00, 0x0d, 0x49, 0x48, 0x44, 0x52,
      0x00, 0x00, 0x00, 0x01, 0x00, 0x00, 0x00, 0x01,
      0x08, 0x06, 0x00, 0x00, 0x00, 0x1f, 0x15, 0xc4, 0x89)
    val jpegProg = b(0xff, 0xd8,
      0xff, 0xe1, 0x00, 0x08, 0x45, 0x78, 0x69, 0x66, 0x00, 0x00,
      0xff, 0xfe, 0x00, 0x04, 0x68, 0x69,
      0xff, 0xc2, 0x00, 0x11, 0x08, 0x01, 0xe0, 0x02, 0x80,
      0x03, 0x01, 0x22, 0x00, 0x02, 0x11, 0x01, 0x03, 0x11, 0x01)
    val wav = {
      val bb = java.nio.ByteBuffer.allocate(48)
        .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      bb.put("RIFF".getBytes("US-ASCII")).putInt(40)
      bb.put("WAVE".getBytes("US-ASCII"))
      bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
      bb.putShort(1).putShort(2).putInt(44100).putInt(44100 * 2 * 2)
      bb.putShort(4).putShort(16)
      bb.put("data".getBytes("US-ASCII")).putInt(4).putInt(0x12345678)
      bb.array()
    }
    synth ++ Seq(png1x1, jpegProg, wav)
  }

  private val genSeed: Gen[Array[Byte]] = Gen.oneOf(seeds)

  private val genRandom: Gen[Array[Byte]] = Gen.choose(0, 300)
    .flatMap(n => Gen.containerOfN[Array, Byte](n, Arbitrary.arbitrary[Byte]))

  private def truncated(g: Gen[Array[Byte]]): Gen[Array[Byte]] =
    g.flatMap(s => Gen.choose(0, s.length).map(s.take))

  private def flipped(g: Gen[Array[Byte]]): Gen[Array[Byte]] =
    g.flatMap { s =>
      if (s.isEmpty) Gen.const(s)
      else for {
        n <- Gen.choose(1, 8)
        at <- Gen.listOfN(n, Gen.choose(0, s.length - 1))
        v <- Gen.listOfN(n, Arbitrary.arbitrary[Byte])
      } yield {
        val q = s.clone()
        at.zip(v).foreach { case (i, x) => q(i) = x }
        q
      }
    }

  /** A 32-bit window overwritten with an extreme value: declared sizes,
    * counts and dimensions near 0, 2^31 and 2^32 (the bomb shapes).
    */
  private val genPatched: Gen[Array[Byte]] = for {
    s <- genSeed // every seed is >= 4 bytes
    at <- Gen.choose(0, s.length - 4)
    v <- Gen.oneOf(0x00000000, 0xffffffff, 0x7fffffff, 0x80000000,
      0x00000001, 0xfffffff8)
  } yield {
    val q = s.clone()
    java.nio.ByteBuffer.wrap(q).putInt(at, v)
    q
  }

  private val genHostile: Gen[Array[Byte]] = Gen.frequency(
    1 -> Gen.const(null: Array[Byte]),
    2 -> genRandom,
    1 -> genSeed,
    3 -> truncated(genSeed),
    3 -> flipped(genSeed),
    2 -> flipped(truncated(genSeed)),
    2 -> genPatched)

  private val genBatch: Gen[List[Array[Byte]]] = Gen.listOfN(16, genHostile)

  /** Every in-memory decoder and per-row media projection, by name. */
  private val decoders: Seq[(String, Array[Byte] => Any)] = Seq(
    "ImageCodec.decodeDims" -> ImageCodec.decodeDims,
    "AudioCodec.decodeWav" -> AudioCodec.decodeWav,
    "AudioCodec.decodeWavMs" -> AudioCodec.decodeWavMs,
    "VideoCodec.decodeMp4" -> VideoCodec.decodeMp4,
    "VideoCodec.decodeSampleTables" ->
      ((p: Array[Byte]) => VideoCodec.decodeSampleTables(p).map(_.metrics)),
    "PixelCodec.decodePng" -> PixelCodec.decodePng,
    "Jpeg.decodeBaseline" -> Jpeg.decodeBaseline,
    "PcmCodec.decodePcm16" -> PcmCodec.decodePcm16,
    "MediaHeader.compute" -> MediaHeader.compute,
    "MediaFeatureNative.features" ->
      ((p: Array[Byte]) => MediaFeatureNative.features(p, 16)),
    "MediaFeatureNative.thumb" ->
      ((p: Array[Byte]) => MediaFeatureNative.thumb(p, 4)),
    "decodeFeatures dispatch" -> ((p: Array[Byte]) =>
      Multimodal.realFeatures(p, 16)
        .orElse(Multimodal.StubCodec.decodeToFeatures(p, 16))))

  property("no media decoder throws on hostile bytes") =
    forAllNoShrink(genBatch) { ps =>
      val throwing = decoders.collect {
        case (name, decode) if ps.exists(p => Try(decode(p)).isFailure) =>
          name
      }
      Prop(throwing.isEmpty) :| s"threw: ${throwing.mkString(", ")}"
    }

  property("sample decoders accept only what the header sniffers read " +
      "the same way") =
    forAllNoShrink(genBatch) { ps =>
      ps.forall { p =>
        val pixels = PixelCodec.decodePng(p).map("png" -> _) ++
          Jpeg.decodeBaseline(p).map("jpeg" -> _)
        pixels.forall { case (fmt, px) =>
          ImageCodec.decodeDims(p).contains((fmt, px.width, px.height))
        } && PcmCodec.decodePcm16(p).forall { case (ch, rate, _) =>
          AudioCodec.decodeWav(p).exists { case (c, r, bits, _) =>
            (c, r, bits) == ((ch, rate, 16))
          }
        }
      }
    }

  /** An MP4 fixture with an empty `moov{udta}` inserted right after its
    * ftyp box.
    */
  private def emptyMoovFirst(p: Array[Byte]): Array[Byte] = {
    val ftypEnd = java.nio.ByteBuffer.wrap(p).getInt(0)
    val moov = java.nio.ByteBuffer.allocate(16).putInt(16)
      .put("moov".getBytes("US-ASCII")).putInt(8)
      .put("udta".getBytes("US-ASCII")).array()
    p.take(ftypEnd) ++ moov ++ p.drop(ftypEnd)
  }

  property("an empty moov ahead of the real one changes neither MP4 " +
      "decoder's result") =
    forAllNoShrink(Gen.choose(0L, 999L), Gen.oneOf(
      Multimodal.synthMp4Payload _, Multimodal.synthMp4StblPayload _)) {
      (id, gen) =>
        val p = gen(id)
        val q = emptyMoovFirst(p)
        VideoCodec.decodeMp4(q) == VideoCodec.decodeMp4(p) &&
          VideoCodec.decodeSampleTables(q) ==
            VideoCodec.decodeSampleTables(p) &&
          (VideoCodec.decodeMp4(p).isDefined ||
            VideoCodec.decodeSampleTables(p).isDefined)
    }

  property("decodeFeatures keeps one row per hostile blob, null " +
      "features where no decoder accepts it") =
    forAllNoShrink(genBatch) { ps =>
      val spark = graft.pipeline.SparkTestSession.spark
      import spark.implicits._
      val rows = ps.zipWithIndex.map { case (p, i) =>
        Multimodal.MediaRow(i.toLong, "image", p, 0, 0, 0)
      }
      val got = Multimodal.decodeFeatures(rows.toDS(), numTasks = Some(2))
        .collect().map(f => f.media_id -> f).toMap
      got.size == ps.size && rows.forall { r =>
        val f = got(r.media_id)
        val want = Multimodal.realFeatures(r.payload, 16)
          .orElse(Multimodal.StubCodec.decodeToFeatures(r.payload, 16))
        f.checksum == want.map(_._1) &&
          f.feat == want.map(_._2.toSeq) &&
          f.n_bytes == Option(r.payload).fold(0)(_.length)
      }
    }
}
