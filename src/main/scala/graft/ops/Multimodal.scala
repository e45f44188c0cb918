package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

import MediaBytes._

/** The media codecs' one set of byte readers: unsigned big- and
  * little-endian integers and four-character codes at an offset. No
  * bounds checks — each container walk checks its own offsets first.
  */
private[ops] object MediaBytes {
  def u8(p: Array[Byte], o: Int): Int = p(o) & 0xff
  def be16(p: Array[Byte], o: Int): Int = (u8(p, o) << 8) | u8(p, o + 1)
  def be32(p: Array[Byte], o: Int): Long =
    (u8(p, o).toLong << 24) | (u8(p, o + 1) << 16) |
      (u8(p, o + 2) << 8) | u8(p, o + 3)
  def be64(p: Array[Byte], o: Int): Long = (be32(p, o) << 32) | be32(p, o + 4)
  def le16(p: Array[Byte], o: Int): Int = u8(p, o) | (u8(p, o + 1) << 8)
  def le32(p: Array[Byte], o: Int): Long =
    u8(p, o).toLong | (u8(p, o + 1) << 8) | (u8(p, o + 2) << 16) |
      (u8(p, o + 3).toLong << 24)
  def fourcc(p: Array[Byte], o: Int): String =
    new String(p, o, 4, "US-ASCII")
}

/** Multimodal-column plumbing: image/audio/video payloads as opaque
  * `binary` columns with typed metadata, plus decode / feature-extract /
  * resize stages, batched per partition with a reused decoder (the
  * Scala analog of a Pandas-UDF batch), over deterministic synthetic
  * payloads. Each container format has ONE pure-JDK parser, and every
  * consumer is a projection of it: the header sniffers ([[ImageCodec]],
  * [[AudioCodec]], [[VideoCodec]]), the sample decoders ([[PixelCodec]]
  * PNG, [[graft.ops.Jpeg]] baseline JPEG, [[PcmCodec]] 16-bit PCM) and
  * the routed cycle's media expressions. Only MP4 FRAME decode stays
  * stubbed ([[StubCodec]]): it needs a video codec library.
  *
  * Scale notes: binary rows are huge relative to text rows, so
  *  - `spark.sql.files.maxPartitionBytes` governs scan-splits, and the
  *    repartition in [[decodeFeatures]] targets a bounded number of
  *    payload bytes per task rather than a row count;
  *  - features (small) are split from payloads (fat) immediately after
  *    decode so downstream shuffles never move the blobs.
  */
object Multimodal {

  case class MediaRow(
      media_id: Long,
      kind: String, // image | audio | video
      payload: Array[Byte],
      width: Int, // typed metadata travels beside the blob
      height: Int,
      duration_ms: Int)

  /** `checksum` and `feat` are null for a blob no decoder accepts. */
  case class MediaFeatures(
      media_id: Long,
      kind: String,
      n_bytes: Int,
      checksum: Option[Long],
      feat: Option[Seq[Float]]) // fixed-size feature vector

  /** Deterministic synthetic payload: 16-byte header
    * [magic(4) | width(4) | height(4) | duration(4)] + seeded noise body.
    * Body LENGTH is a closed-form function of the id (`256 +
    * (id * 2654435761) % 1024`) so size-derived outputs are
    * oracle-recomputable in plain SQL; body CONTENT stays seeded noise.
    */
  def synthPayload(id: Long, kind: String, w: Int, h: Int,
      dur: Int): Array[Byte] = {
    val rng = new java.util.Random(id * 2654435761L)
    // floorMod, not %: for id >= ~3.47e9 the product wraps negative and
    // Java % would return a negative remainder (NegativeArraySizeException
    // + divergence from the oracle's exact-arithmetic modulo). Since 1024
    // divides 2^64, floorMod of the wrapped product equals the true
    // mathematical mod for ALL ids.
    val body = new Array[Byte](256 +
      Math.floorMod(id * 2654435761L, 1024L).toInt)
    rng.nextBytes(body)
    val bb = java.nio.ByteBuffer.allocate(16 + body.length)
    bb.putInt(0x4D454449) // "MEDI"
    bb.putInt(w); bb.putInt(h); bb.putInt(dur)
    bb.put(body)
    bb.array()
  }

  /** Kind is id % 3 (image/audio/video) — closed-form for the oracle;
    * dimensions/duration metadata stay seeded pseudo-random.
    */
  def synthMedia(spark: SparkSession, n: Long): Dataset[MediaRow] = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism).map { id =>
      val rng = new java.util.Random(id)
      val kind = Seq("image", "audio", "video")((id % 3).toInt)
      val (w, h, d) = kind match {
        case "image" => (64 + rng.nextInt(512), 64 + rng.nextInt(512), 0)
        case "audio" => (0, 0, 1000 + rng.nextInt(60000))
        case _ => (320, 240, 1000 + rng.nextInt(10000))
      }
      MediaRow(id, kind, synthPayload(id, kind, w, h, d), w, h, d)
    }
  }

  /** REAL image-container header decode: PNG dimensions from the IHDR
    * chunk and JPEG dimensions from the marker walk to the first SOF —
    * the parses [[PixelCodec]] and [[graft.ops.Jpeg]] also take (m02).
    */
  object ImageCodec {

    /** The 8-byte PNG signature (PNG spec 5.2). */
    private[ops] val PngSig: Array[Byte] =
      Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

    /** (format, width, height) from a PNG or JPEG payload prefix; None
      * for anything unparseable (wrong magic, truncated, dims missing
      * before the scan data). Never throws — a corrupt blob in a 100 TB
      * table must classify, not kill the task (the reference's
      * broken-file-skip discipline applied to media).
      */
    def decodeDims(payload: Array[Byte]): Option[(String, Int, Int)] =
      if (payload == null) None
      else pngIhdr(payload).map { case (w, h) => ("png", w, h) }
        .orElse(jpegDims(payload))

    /** The one PNG IHDR parse: the signature, then the IHDR chunk, which
      * is REQUIRED to be first (PNG spec 11.2.1): bytes 8-11 length
      * (must be 13), 12-15 type "IHDR", 16-19 width, 20-23 height, all
      * big-endian. (width, height) when both are in 1..Int.MaxValue.
      */
    private[ops] def pngIhdr(p: Array[Byte]): Option[(Int, Int)] =
      if (p.length < 24 || !(0 until 8).forall(i => p(i) == PngSig(i)) ||
        be32(p, 8) != 13L || fourcc(p, 12) != "IHDR") None
      else {
        val (w, h) = (be32(p, 16), be32(p, 20))
        if (w <= 0 || h <= 0 || w > Int.MaxValue || h > Int.MaxValue) None
        else Some((w.toInt, h.toInt))
      }

    /** JPEG: [[Jpeg.walkMarkers]] to the first SOFn of any kind, whose
      * precision(1) height(2) width(2) follow the length. A REAL frame
      * header is >= 8 bytes long, so a corrupt SOF declaring less
      * classifies rather than read the next segment as dimensions; only
      * the dimension bytes must be present. SOS or EOI first: None.
      */
    private def jpegDims(p: Array[Byte]): Option[(String, Int, Int)] =
      if (p.length < 2 || u8(p, 0) != 0xff || u8(p, 1) != 0xd8) None
      else {
        var dims: Option[(String, Int, Int)] = None
        Jpeg.walkMarkers(p) { (m, b, len) =>
          if (Jpeg.isSof(m)) {
            if (len >= 8 && b + 4 < p.length) {
              val (h, w) = (be16(p, b + 1), be16(p, b + 3))
              if (w > 0 && h > 0) dims = Some(("jpeg", w, h))
            }
            false
          } else m != 0xda
        }
        dims
      }
  }

  /** REAL PNG pixel decode, pure JDK: [[ImageCodec]]'s IHDR parse, a
    * chunk walk collecting the IDAT stream, zlib inflate
    * (`java.util.zip.Inflater`), then per-scanline UNFILTERING of all
    * five filter types (PNG spec 9). Covers non-interlaced 8-bit
    * grayscale (0), truecolor (2) and truecolor+alpha (6); palette,
    * 16-bit and Adam7 classify as undecodable rather than throwing (m05
    * recomputes the sums from the closed form, so the decode must invert
    * deflate AND every filter exactly).
    */
  object PixelCodec {

    /** Decoded raw samples: row-major, `channels` bytes per pixel. */
    final case class Pixels(width: Int, height: Int, channels: Int,
        data: Array[Byte])

    /** Cap on the decoded buffer: at 100 TB scale one crafted 1-KB
      * blob declaring huge dims must not allocate gigabytes in an
      * executor (the zip-bomb guard — deflate offers ~1000:1).
      */
    private val MaxDecodedBytes = 1L << 26 // 64 MiB

    /** Decode a PNG payload to raw pixel samples, or None for
      * anything outside the supported profile, corrupt, truncated, or
      * size-inconsistent (an inflated stream that is longer OR shorter
      * than height * (1 + width*channels) is corrupt by spec — both
      * directions are rejected, never padded or clipped).
      */
    def decodePng(p: Array[Byte]): Option[Pixels] = {
      if (p == null || p.length < 45) // sig + IHDR + empty IDAT + IEND
        return None
      val (w, h) = ImageCodec.pngIhdr(p) match {
        case Some(dims) => dims
        case None => return None
      }
      val bitDepth = u8(p, 24)
      val colorType = u8(p, 25)
      val interlace = u8(p, 28)
      if (bitDepth != 8 || interlace != 0) return None
      val channels = colorType match {
        case 0 => 1
        case 2 => 3
        case 6 => 4
        case _ => return None
      }
      // dims gate BEFORE any allocation. Per-dimension caps FIRST:
      // w,h are untrusted values up to 2^31 - 1, so h*(w*ch+1) can
      // exceed 2^63 and wrap negative, sailing past the product gate
      // and reaching the .toInt truncations below as garbage. Capping
      // each dimension at MaxDecodedBytes (2^26) bounds the product at
      // ~2^54 — every blob the caps reject the product gate would
      // reject anyway.
      if (w > MaxDecodedBytes || h > MaxDecodedBytes) return None
      val expected = h * (w * channels.toLong + 1L)
      if (expected > MaxDecodedBytes) return None
      // chunk walk from the first post-IHDR chunk; IDAT members are
      // ONE zlib stream split arbitrarily (PNG spec 10.3)
      var i = 33
      val idat = new java.io.ByteArrayOutputStream()
      var sawEnd = false
      while (!sawEnd && i + 8 <= p.length) {
        val len = be32(p, i)
        if (len > p.length.toLong - i - 12) return None // truncated chunk
        val l = len.toInt
        fourcc(p, i + 4) match {
          case "IDAT" => idat.write(p, i + 8, l)
          case "IEND" => sawEnd = true
          case _ =>
        }
        i += 12 + l
      }
      if (!sawEnd || idat.size == 0) return None
      inflate(idat.toByteArray, expected.toInt)
        .flatMap(unfilter(_, w, h, channels))
        .map(Pixels(w, h, channels, _))
    }

    /** Inflate to EXACTLY `expected` bytes; a stream that is shorter,
      * longer, truncated, or malformed yields None. Never throws.
      */
    private def inflate(data: Array[Byte],
        expected: Int): Option[Array[Byte]] = {
      val inf = new java.util.zip.Inflater()
      try {
        inf.setInput(data)
        val out = new Array[Byte](expected + 1) // +1 detects overlong
        var off = 0
        while (!inf.finished()) {
          val n = inf.inflate(out, off, out.length - off)
          off += n
          if (off > expected) return None // longer than the dims allow
          // 0 without end-of-stream == needs more input (truncated) or
          // a preset dictionary (never legal in PNG) — corrupt either way
          if (n == 0 && !inf.finished()) return None
        }
        if (off == expected) Some(java.util.Arrays.copyOf(out, expected))
        else None
      } catch {
        case _: java.util.zip.DataFormatException => None
      } finally inf.end()
    }

    /** Invert the per-scanline filter: raw = h scanlines of
      * [filterType | stride bytes]; output = h*stride unfiltered
      * samples. Filter arithmetic is mod 256 on the UNFILTERED
      * neighbors (left/up/upper-left at one-pixel = `bpp`-byte
      * distance), per PNG spec 9.2.
      */
    private def unfilter(raw: Array[Byte], w: Int, h: Int,
        bpp: Int): Option[Array[Byte]] = {
      val stride = w * bpp
      val out = new Array[Byte](h * stride)
      var y = 0
      while (y < h) {
        val ft = raw(y * (stride + 1)) & 0xff
        if (ft > 4) return None // undefined filter type: corrupt
        val in = y * (stride + 1) + 1
        val o = y * stride
        var x = 0
        while (x < stride) {
          val f = raw(in + x) & 0xff
          val a = if (x >= bpp) out(o + x - bpp) & 0xff else 0
          val b = if (y > 0) out(o - stride + x) & 0xff else 0
          val v = ft match {
            case 0 => f
            case 1 => f + a
            case 2 => f + b
            case 3 => f + ((a + b) >> 1)
            case 4 =>
              val c =
                if (x >= bpp && y > 0) out(o - stride + x - bpp) & 0xff
                else 0
              f + paeth(a, b, c)
          }
          out(o + x) = (v & 0xff).toByte
          x += 1
        }
        y += 1
      }
      Some(out)
    }

    /** The Paeth predictor (PNG spec 9.4): nearest of left/up/upper-left
      * to p = a + b - c, ties resolved left, then up.
      */
    private[ops] def paeth(a: Int, b: Int, c: Int): Int = {
      val p = a + b - c
      val pa = math.abs(p - a)
      val pb = math.abs(p - b)
      val pc = math.abs(p - c)
      if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
    }
  }

  /** REAL audio-container header decode — the one RIFF/WAVE chunk
    * walk: channels / sample rate / bit depth from `fmt ` and the byte
    * count from the `data` header (duration = data / byte-rate, no
    * sample decoding). Corrupt blobs classify, never throw.
    */
  object AudioCodec {

    /** `fmt ` as (format code, channels, sample rate, bits) and `data`
      * as (payload offset, declared size); None when absent, both None
      * for a non-RIFF/WAVE blob. Chunk order is NOT assumed (LIST/INFO
      * before `fmt ` is routine), chunks are word-aligned, and the walk
      * stops once both are seen.
      */
    private[ops] def chunks(p: Array[Byte])
        : (Option[(Int, Int, Int, Int)], Option[(Int, Long)]) = {
      var fmt: Option[(Int, Int, Int, Int)] = None
      var data: Option[(Int, Long)] = None
      if (p == null || p.length < 12 || fourcc(p, 0) != "RIFF" ||
        fourcc(p, 8) != "WAVE") return (fmt, data)
      var i = 12
      while (i + 8 <= p.length && (fmt.isEmpty || data.isEmpty)) {
        val id = fourcc(p, i)
        val size = le32(p, i + 4) // unsigned 32-bit, as Long: 0..2^32-1
        // gate on the DECLARED size too: a truncated `fmt ` chunk
        // (size < 16) followed by another chunk would otherwise read
        // the neighbor's header bytes as block-align/bits and classify
        // a corrupt blob successfully with garbage metadata
        if (id == "fmt " && size >= 16L && i + 24 <= p.length)
          fmt = Some((le16(p, i + 8), le16(p, i + 10),
            le32(p, i + 12).toInt, le16(p, i + 22)))
        else if (id == "data") data = Some((i + 8, size))
        // advance in LONG arithmetic: a corrupt size near 2^32 truncated
        // to a small negative Int would otherwise advance by <= 0 and
        // hang the task forever (a hung executor is worse than a throw —
        // no retry ever fires). adv >= 8 always, so progress is
        // guaranteed; a next-offset beyond the payload just ends the
        // walk with whatever fmt/data were already captured.
        val next = i.toLong + 8L + size + (size & 1L)
        i = if (next > p.length.toLong) p.length else next.toInt
      }
      (fmt, data)
    }

    /** (channels, sample rate, bits, data byte count), or None. */
    def decodeWav(p: Array[Byte]): Option[(Int, Int, Int, Long)] = {
      val (fmt, data) = chunks(p)
      for ((_, ch, rate, bits) <- fmt; (_, size) <- data
           if ch > 0 && rate > 0 && bits > 0)
        yield (ch, rate, bits, size)
    }

    /** [[decodeWav]] with the data byte count converted to duration_ms =
      * bytes * 1000 / byte-rate (the m03 formula). A declared format
      * whose byte-rate floors to zero (bits*ch*rate < 8 — each factor
      * individually passes decodeWav's > 0 gates) is garbage and
      * classifies as undecodable rather than divide by zero in an
      * executor.
      */
    def decodeWavMs(p: Array[Byte]): Option[(Int, Int, Int, Long)] =
      decodeWav(p).flatMap { case (ch, rate, bits, bytes) =>
        val byteRate = rate.toLong * ch * bits / 8
        if (byteRate > 0) Some((ch, rate, bits, bytes * 1000L / byteRate))
        else None
      }
  }

  /** REAL video-container header decode — ISO-BMFF (MP4) box walk,
    * pure JVM: presentation duration from `moov/mvhd`
    * (timescale+duration, version 0 and 1 layouts) and display
    * dimensions from the first VIDEO track's `moov/trak/tkhd`
    * (16.16 fixed point; sound tracks carry 0x0 and are skipped).
    * Box sizes are walked in LONG arithmetic with 64-bit `largesize`
    * (size==1) and to-end-of-file (size==0) handled, so a corrupt
    * size near 2^32 can never advance by <= 0 and hang the task — the
    * AudioCodec discipline. Corrupt/truncated blobs classify as
    * undecodable, never throw.
    */
  object VideoCodec {

    /** (boxType, payloadStart, boxEnd) for the box at `i`, or None when
      * the header is malformed/truncated. `boxEnd` is clamped to the
      * payload length: a size overrunning the blob just ends the walk
      * with whatever was already parsed (truncation tolerance).
      */
    private def boxAt(p: Array[Byte], i: Long,
        limit: Long): Option[(String, Long, Long)] = {
      if (i + 8 > limit) return None
      val size32 = be32(p, i.toInt)
      val typ = fourcc(p, i.toInt + 4)
      val (hdr, size) =
        if (size32 == 1L) {
          if (i + 16 > limit) return None
          (16L, be64(p, i.toInt + 8))
        } else if (size32 == 0L) (8L, limit - i) // to end of enclosure
        else (8L, size32)
      if (size < hdr) return None // would not advance: corrupt
      // overflow-safe end: a crafted largesize near Long.MaxValue would
      // wrap `i + size` negative and send the walker to a garbage offset;
      // anything reaching past the enclosure clamps to it instead.
      val end = if (size >= limit - i) limit else i + size
      Some((typ, i + hdr, end))
    }

    /** THE top-level box walk both MP4 decoders read. The ftyp brand
      * check is the format gate (the conventional MP4 magic at offset
      * 4). The child boxes of every top-level `moov` go, in file order,
      * to `visit(boxType, payloadStart, boxEnd)` until it returns true
      * (done), so a `moov` that leaves the decoder unsatisfied (no mvhd,
      * no video trak, no usable stbl) does not end the walk. False when
      * the gate fails or the walk loses box alignment before `visit` is
      * done (corrupt); true when it is done or the blob ends.
      */
    private def walkMoov(p: Array[Byte])(
        visit: (String, Long, Long) => Boolean): Boolean = {
      if (p == null || p.length < 12 || fourcc(p, 4) != "ftyp") return false
      val limit = p.length.toLong
      var i = 0L
      while (i + 8 <= limit) {
        boxAt(p, i, limit) match {
          case None => return false // lost box alignment: corrupt
          case Some((typ, body, end)) =>
            if (typ == "moov") {
              var j = body
              while (j + 8 <= end) {
                boxAt(p, j, end) match {
                  case None => j = end // corrupt child: stop this moov
                  case Some((c, b, e)) =>
                    if (visit(c, b, e)) return true
                    j = e
                }
              }
            }
            i = end
        }
      }
      true
    }

    /** (width, height, duration_ms) from an MP4 payload; None for
      * anything unparseable. The header comes from the first mvhd and
      * the first video trak, over every `moov` ([[walkMoov]]).
      */
    def decodeMp4(p: Array[Byte]): Option[(Int, Int, Long)] = {
      var mvhd: Option[(Long, Long)] = None // (timescale, duration)
      var dims: Option[(Int, Int)] = None
      val ok = walkMoov(p) { (typ, b, e) =>
        typ match {
          case "mvhd" => mvhd = parseMvhd(p, b, e)
          case "trak" => if (dims.isEmpty) dims = parseTrak(p, b, e)
          case _ =>
        }
        mvhd.nonEmpty && dims.nonEmpty
      }
      for ((ts, dur) <- mvhd; (w, h) <- dims if ok && ts > 0)
        yield (w, h, dur * 1000L / ts)
    }

    /** mvhd fullbox: v0 puts timescale/duration at payload +12/+16
      * (32-bit); v1 at +20/+24 (duration 64-bit) after the widened
      * creation/modification times.
      */
    private def parseMvhd(p: Array[Byte], b: Long,
        e: Long): Option[(Long, Long)] = {
      if (b + 4 > e) return None
      u8(p, b.toInt) match {
        case 0 if b + 20 <= e =>
          Some((be32(p, b.toInt + 12), be32(p, b.toInt + 16)))
        case 1 if b + 32 <= e =>
          // hostile v1 duration (sign bit set, or > Long.MaxValue/1000)
          // would overflow the later `dur * 1000 / ts` into a plausible
          // garbage duration_ms — classify as undecodable instead
          val dur = be64(p, b.toInt + 24)
          if (dur < 0L || dur > Long.MaxValue / 1000L) None
          else Some((be32(p, b.toInt + 20), dur))
        case _ => None
      }
    }

    /** Sample-table statistics (the m09 surface): the curation signals
      * a video pipeline actually filters on — frame count, total coded
      * bytes, media timescale, total time delta, sync-sample count,
      * chunk count — from the FIRST trak carrying a complete stbl
      * (stsz + stts + stco/co64), via pure box-walk arithmetic over
      * moov -> trak -> mdia -> (mdhd, minf -> stbl). No codec work: the
      * sample tables are plain integers in the container. The derived
      * metrics are [[SampleStats.metrics]], so every division is stated
      * once.
      *
      * Undecodable (None) whenever: any table is truncated (declared
      * entry count reaching past its box), an entry count exceeds
      * [[MaxTableEntries]] (the per-factor cap BEFORE any product — a
      * u32 count times an entry width must never wrap), stts frame
      * totals disagree with stsz's count, the timescale is zero, or the
      * total delta is zero (no duration to weight bitrate by).
      */
    final case class SampleStats(nFrames: Long, totalBytes: Long,
        timescale: Long, totalDelta: Long, nKeyframes: Long,
        nChunks: Long) {

      /** (duration_ms, bitrate_bps, keyframe_density_x1000) by integer
        * floor division in a FIXED order — duration first, then bitrate
        * over the floored duration — so the m09 oracle restates them
        * exactly. None when the duration floors to 0 ms (sub-ms media:
        * nothing to weight bitrate by).
        */
      def metrics: Option[(Long, Long, Long)] = {
        val durMs = totalDelta * 1000L / timescale
        if (durMs <= 0) None
        else Some((durMs, totalBytes * 8000L / durMs,
          nKeyframes * 1000L / nFrames))
      }
    }

    /** 16M entries — generous for any real movie (a 24 fps feature film
      * is ~200k frames) while keeping every `count * width` product and
      * every accumulated sum far from Long overflow.
      */
    private val MaxTableEntries = 1L << 24

    def decodeSampleTables(p: Array[Byte]): Option[SampleStats] = {
      var st: Option[SampleStats] = None
      walkMoov(p) { (typ, b, e) =>
        if (typ == "trak") st = parseTrakStbl(p, b, e)
        st.isDefined
      }
      st
    }

    /** mdhd timescale: v0 at payload +12 after 2x u32 times; v1 at +20
      * after 2x u64 times.
      */
    private def parseMdhdTimescale(p: Array[Byte], b: Long,
        e: Long): Option[Long] = {
      if (b + 4 > e) return None
      u8(p, b.toInt) match {
        case 0 if b + 16 <= e => Some(be32(p, b.toInt + 12))
        case 1 if b + 24 <= e => Some(be32(p, b.toInt + 20))
        case _ => None
      }
    }

    /** (sampleCount, totalBytes) from stsz: constant-size form when
      * sample_size != 0, else the per-sample u32 table.
      */
    private def parseStsz(p: Array[Byte], b: Long,
        e: Long): Option[(Long, Long)] = {
      if (b + 12 > e) return None
      val sampleSize = be32(p, b.toInt + 4)
      val count = be32(p, b.toInt + 8)
      if (count == 0 || count > MaxTableEntries) return None
      if (sampleSize != 0L) Some((count, sampleSize * count))
      else if (b + 12 + count * 4 > e) None // truncated table
      else {
        var tot = 0L
        var k = 0L
        while (k < count) {
          tot += be32(p, (b + 12 + k * 4).toInt)
          k += 1
        }
        Some((count, tot))
      }
    }

    /** (sumSampleCounts, sumCountTimesDelta) from stts. Counts are
      * capped cumulatively at [[MaxTableEntries]] BEFORE each product,
      * so `c * d` (two u32s — naïvely up to 2^64) never wraps.
      */
    private def parseStts(p: Array[Byte], b: Long,
        e: Long): Option[(Long, Long)] = {
      if (b + 8 > e) return None
      val n = be32(p, b.toInt + 4)
      if (n > MaxTableEntries) return None
      if (b + 8 + n * 8 > e) return None // truncated table
      var sc = 0L
      var sd = 0L
      var k = 0L
      while (k < n) {
        val c = be32(p, (b + 8 + k * 8).toInt)
        val d = be32(p, (b + 8 + k * 8 + 4).toInt)
        sc += c
        if (sc > MaxTableEntries) return None // cap before the product
        sd += c * d // c <= 2^24, d < 2^32: product < 2^56, sum < 2^57
        k += 1
      }
      Some((sc, sd))
    }

    /** Entry count of a u32-per-entry fullbox table (stss, stco), size
      * checked against the box end.
      */
    private def parseCountedU32(p: Array[Byte], b: Long,
        e: Long, entryBytes: Long): Option[Long] = {
      if (b + 8 > e) return None
      val n = be32(p, b.toInt + 4)
      if (n > MaxTableEntries) return None
      if (b + 8 + n * entryBytes > e) None else Some(n)
    }

    private def parseTrakStbl(p: Array[Byte], tb: Long,
        te: Long): Option[SampleStats] = {
      var timescale = -1L
      var stbl: Option[(Long, Long)] = None
      var j = tb
      while (j + 8 <= te) {
        boxAt(p, j, te) match {
          case None => return None
          case Some(("mdia", mb, me)) =>
            var k = mb
            while (k + 8 <= me) {
              boxAt(p, k, me) match {
                case None => return None
                case Some(("mdhd", hb, he)) =>
                  timescale = parseMdhdTimescale(p, hb, he).getOrElse(-1L)
                  k = he
                case Some(("minf", nb, ne)) =>
                  var q = nb
                  while (q + 8 <= ne && stbl.isEmpty) {
                    boxAt(p, q, ne) match {
                      case None => return None
                      case Some(("stbl", sb, se)) => stbl = Some((sb, se))
                      case Some((_, _, qe)) => q = qe
                    }
                  }
                  k = ne
                case Some((_, _, ke)) => k = ke
              }
            }
            j = me
          case Some((_, _, je)) => j = je
        }
      }
      for {
        (sb, se) <- stbl
        if timescale > 0
        stats <- parseStblTables(p, sb, se, timescale)
      } yield stats
    }

    private def parseStblTables(p: Array[Byte], sb: Long, se: Long,
        timescale: Long): Option[SampleStats] = {
      var stsz: Option[(Long, Long)] = None
      var stts: Option[(Long, Long)] = None
      var stss: Option[Long] = None
      var chunks: Option[Long] = None
      var q = sb
      while (q + 8 <= se) {
        boxAt(p, q, se) match {
          case None => return None
          case Some((typ, b, e)) =>
            typ match {
              case "stsz" => stsz = parseStsz(p, b, e)
                if (stsz.isEmpty) return None // present but corrupt
              case "stts" => stts = parseStts(p, b, e)
                if (stts.isEmpty) return None
              case "stss" => stss = parseCountedU32(p, b, e, 4L)
                if (stss.isEmpty) return None
              case "stco" => chunks = parseCountedU32(p, b, e, 4L)
                if (chunks.isEmpty) return None
              case "co64" => chunks = parseCountedU32(p, b, e, 8L)
                if (chunks.isEmpty) return None
              case _ => // stsd/stsc/sdtp/...: not this walk's business
            }
            q = e
        }
      }
      for {
        (nFrames, totalBytes) <- stsz
        (sumCounts, totalDelta) <- stts
        nChunks <- chunks
        // stts and stsz must agree on the frame count; a zero delta
        // leaves nothing to weight bitrate by; the byte total is capped
        // (2^50 ~ a petabyte of coded samples — garbage) so every
        // downstream `totalBytes * 8000` bitrate product stays far from
        // Long overflow without each caller re-guarding
        if sumCounts == nFrames && totalDelta > 0 &&
          totalBytes <= (1L << 50)
      } yield SampleStats(nFrames, totalBytes, timescale, totalDelta,
        stss.getOrElse(nFrames), // no stss == every sample is sync
        nChunks)
    }

    /** First tkhd inside a trak with NONZERO 16.16 display dims (a
      * sound track's tkhd carries 0x0 — not this track's business).
      */
    private def parseTrak(p: Array[Byte], b: Long,
        e: Long): Option[(Int, Int)] = {
      var j = b
      while (j + 8 <= e) {
        boxAt(p, j, e) match {
          case None => return None
          case Some(("tkhd", tb, te)) =>
            if (tb + 4 > te) return None
            val dimOff = u8(p, tb.toInt) match {
              case 0 => 76L // 4 + (4+4+4+4+4) + 52
              case 1 => 88L // 4 + (8+8+4+4+8) + 52
              case _ => return None
            }
            if (tb + dimOff + 8 > te) return None
            val w = (be32(p, (tb + dimOff).toInt) >> 16).toInt
            val h = (be32(p, (tb + dimOff + 4).toInt) >> 16).toInt
            return if (w > 0 && h > 0) Some((w, h)) else None
          case Some((_, _, ce)) => j = ce
        }
      }
      None
    }
  }

  /** Deterministic REAL MP4 payloads for the m04 oracle: closed-form
    * dims/timescale/duration any engine recomputes. Structure proves
    * the walk: even ids put a LARGESIZE (size==1, 64-bit) mdat BEFORE
    * moov (the walker must skip it via the 64-bit size) and use
    * version-0 mvhd/tkhd; odd ids use version-1 (64-bit times). The
    * moov carries a junk `udta` child before mvhd, and a SOUND trak
    * (0x0 tkhd dims) precedes the video trak, which itself hides its
    * tkhd behind a junk `edts` sibling — every branch of the child
    * walk is load-bearing.
    */
  def synthMp4Params(id: Long): (Int, Int, Long, Long) =
    (160 + Math.floorMod(id * 2654435761L, 1760L).toInt,
      120 + Math.floorMod(id * 40503L, 960L).toInt,
      600L + 100L * (id % 7),
      1000L + Math.floorMod(id * 48271L, 120000L))

  /** One ISO-BMFF box for the synthetic MP4 builders: 32-bit size,
    * type, payload.
    */
  private def box(typ: String, payload: Array[Byte]): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(8 + payload.length)
    bb.putInt(8 + payload.length).put(typ.getBytes("US-ASCII"))
      .put(payload)
    bb.array()
  }

  /** A fullbox payload: version + 0 flags, then what `rest` writes
    * (at most `cap` bytes in all).
    */
  private def fullbox(version: Int, rest: java.nio.ByteBuffer => Unit,
      cap: Int): Array[Byte] = {
    val bb = java.nio.ByteBuffer.allocate(cap)
    bb.putInt(version << 24)
    rest(bb)
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  def synthMp4Payload(id: Long): Array[Byte] = {
    val (w, h, timescale, duration) = synthMp4Params(id)
    val v1 = id % 2 == 1
    val mvhd = box("mvhd", fullbox(if (v1) 1 else 0, bb => {
      if (v1) { bb.putLong(0L); bb.putLong(0L) } // creation, modification
      else { bb.putInt(0); bb.putInt(0) }
      bb.putInt(timescale.toInt)
      if (v1) bb.putLong(duration) else bb.putInt(duration.toInt)
      bb.putInt(0x00010000).putShort(0x0100.toShort) // rate, volume
      bb.put(new Array[Byte](10 + 36 + 24)) // reserved+matrix+predefined
      bb.putInt(2) // next track id
    }, 128))
    def tkhd(tw: Int, th: Int) = box("tkhd", fullbox(if (v1) 1 else 0,
      bb => {
        if (v1) { bb.putLong(0L); bb.putLong(0L) }
        else { bb.putInt(0); bb.putInt(0) }
        bb.putInt(1).putInt(0) // track id, reserved
        if (v1) bb.putLong(duration) else bb.putInt(duration.toInt)
        bb.put(new Array[Byte](8 + 2 + 2 + 2 + 2 + 36))
        bb.putInt(tw << 16).putInt(th << 16) // 16.16 fixed
      }, 128))
    val soundTrak = box("trak", tkhd(0, 0))
    val videoTrak = box("trak",
      box("edts", "graftjunkedit".getBytes("US-ASCII")) ++ tkhd(w, h))
    val moov = box("moov",
      box("udta", "graftjunk".getBytes("US-ASCII")) ++
        mvhd ++ soundTrak ++ videoTrak)
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0))
    val noise = new Array[Byte](48)
    new java.util.Random(id).nextBytes(noise)
    val mdat =
      if (v1) box("mdat", noise)
      else { // largesize form: size==1 + 64-bit size after the type
        val bb = java.nio.ByteBuffer.allocate(16 + noise.length)
        bb.putInt(1).put("mdat".getBytes("US-ASCII"))
          .putLong(16L + noise.length).put(noise)
        bb.array()
      }
    if (v1) ftyp ++ moov ++ mdat else ftyp ++ mdat ++ moov
  }

  /** Distributed MP4 metadata extraction — the m04 query body (same
    * shape as [[imageDims]]/[[audioMeta]]: narrow map, blobs never
    * shuffled).
    */
  def videoMeta(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { id =>
        VideoCodec.decodeMp4(synthMp4Payload(id)) match {
          case Some((w, h, durMs)) => (id, "mp4", w, h, durMs)
          case None => (id, "undecodable", -1, -1, -1L)
        }
      }
      .toDF("media_id", "format", "width", "height", "duration_ms")
  }

  /** Deterministic REAL MP4 payloads WITH SAMPLE TABLES for the m09
    * oracle: closed-form stsz/stts/stss/stco contents any engine
    * recomputes. Structure proves the walk: a sound trak with NO mdia
    * precedes the video trak (must be skipped), the video trak hides
    * its mdia behind a junk edts sibling, the stbl carries a junk stsd
    * first, and the variants fork on id — constant-size stsz (id%3==0)
    * vs per-sample table; stss present (sync every k-th frame) vs
    * absent (id%4==3: all frames sync); 32-bit stco (even id) vs
    * 64-bit co64 (odd id).
    */
  def synthStblParams(id: Long): (Long, Long, Long, Long, Long, Long) = (
    1000L + 100L * (id % 9), // timescale
    24L + (id * 13) % 60,    // n frames
    100L + id % 50,          // stts delta for the first half
    150L + id % 30,          // stts delta for the rest
    1L + id % 5,             // sync stride k (stss: frames 1, 1+k, ...)
    1L + id % 7)             // chunk count

  def synthStblSampleSize(id: Long, i: Long): Long =
    200L + (id * 31 + i * 7) % 800

  def synthMp4StblPayload(id: Long): Array[Byte] = {
    val (ts, n, d1, d2, k, m) = synthStblParams(id)
    val mdhd = box("mdhd", fullbox(0, bb => {
      bb.putInt(0).putInt(0) // creation, modification
      bb.putInt(ts.toInt).putInt(0) // timescale, duration (unused here)
      bb.putInt(0) // language + predefined
    }, 32))
    val stsz = box("stsz", fullbox(0, bb => {
      if (id % 3 == 0) {
        bb.putInt(synthStblSampleSize(id, 0).toInt).putInt(n.toInt)
      } else {
        bb.putInt(0).putInt(n.toInt)
        var i = 0L
        while (i < n) { bb.putInt(synthStblSampleSize(id, i).toInt); i += 1 }
      }
    }, 16 + 4 * n.toInt))
    val stts = box("stts", fullbox(0, bb => {
      bb.putInt(2)
      bb.putInt((n / 2).toInt).putInt(d1.toInt)
      bb.putInt((n - n / 2).toInt).putInt(d2.toInt)
    }, 32))
    val nSync = (n - 1) / k + 1
    val stss =
      if (id % 4 == 3) Array.empty[Byte]
      else box("stss", fullbox(0, bb => {
        bb.putInt(nSync.toInt)
        var s = 1L
        while (s <= n) { bb.putInt(s.toInt); s += k }
      }, 16 + 4 * nSync.toInt))
    val chunkTable =
      if (id % 2 == 0) box("stco", fullbox(0, bb => {
        bb.putInt(m.toInt)
        var i = 0L
        while (i < m) { bb.putInt((4096L * (i + 1)).toInt); i += 1 }
      }, 16 + 4 * m.toInt))
      else box("co64", fullbox(0, bb => {
        bb.putInt(m.toInt)
        var i = 0L
        while (i < m) { bb.putLong(4096L * (i + 1)); i += 1 }
      }, 16 + 8 * m.toInt))
    val stbl = box("stbl",
      box("stsd", "graftjunksd".getBytes("US-ASCII")) ++
        stsz ++ stts ++ stss ++ chunkTable)
    val minf = box("minf",
      box("vmhd", "graftjunkvm".getBytes("US-ASCII")) ++ stbl)
    val mdia = box("mdia", mdhd ++
      box("hdlr", "graftjunkhd".getBytes("US-ASCII")) ++ minf)
    // mvhd + tkhd ride along (fixed presentation values — m09 verifies
    // the SAMPLE tables) so the same payload also passes the header
    // decode: MediaHeader attaches sample-table signals only to blobs
    // whose mp4 header already parsed.
    val mvhd = box("mvhd", fullbox(0, bb => {
      bb.putInt(0).putInt(0) // creation, modification
      bb.putInt(1000).putInt(5000) // presentation timescale, duration
      bb.putInt(0x00010000).putShort(0x0100.toShort)
      bb.put(new Array[Byte](10 + 36 + 24))
      bb.putInt(2)
    }, 128))
    val tkhd = box("tkhd", fullbox(0, bb => {
      bb.putInt(0).putInt(0) // creation, modification
      bb.putInt(1).putInt(0) // track id, reserved
      bb.putInt(5000) // duration
      bb.put(new Array[Byte](8 + 2 + 2 + 2 + 2 + 36))
      bb.putInt(320 << 16).putInt(240 << 16) // 16.16 fixed dims
    }, 128))
    val soundTrak = box("trak", // no mdia at all: the walker must skip
      box("tkhd", new Array[Byte](88)))
    val videoTrak = box("trak",
      box("edts", "graftjunkedit".getBytes("US-ASCII")) ++ tkhd ++ mdia)
    val moov = box("moov",
      box("udta", "graftjunk".getBytes("US-ASCII")) ++ mvhd ++
        soundTrak ++ videoTrak)
    val ftyp = box("ftyp",
      "isom".getBytes("US-ASCII") ++ Array[Byte](0, 0, 0, 0))
    ftyp ++ moov
  }

  /** Distributed MP4 sample-table extraction — the m09 query body
    * (same shape as [[videoMeta]]: narrow map, blobs never shuffled).
    * The derived metrics are [[VideoCodec.SampleStats.metrics]]; a
    * blob without them is a -1 sentinel row.
    */
  def videoSampleStats(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { id =>
        VideoCodec.decodeSampleTables(synthMp4StblPayload(id))
            .flatMap(s => s.metrics.map(s -> _)) match {
          case Some((s, (durMs, bps, kf))) =>
            (id, s.nFrames, s.totalBytes, durMs, bps, s.nKeyframes, kf,
              s.nChunks)
          case None => (id, -1L, -1L, -1L, -1L, -1L, -1L, -1L)
        }
      }
      .toDF("media_id", "n_frames", "total_bytes", "duration_ms",
        "bitrate_bps", "n_keyframes", "keyframe_density_x1000",
        "n_chunks")
  }

  /** Deterministic REAL WAV payloads for the m03 oracle: closed-form
    * channels/rate/data-size (any engine recomputes them), a junk LIST
    * chunk BEFORE `fmt ` so the parse proves it walks chunks, seeded
    * noise as the sample data.
    */
  def synthWavParams(id: Long): (Int, Int, Int, Int) = {
    val ch = 1 + (id % 2).toInt
    val rate = 8000 + 1000 * (id % 37).toInt
    val dataBytes = 256 + Math.floorMod(id * 2654435761L, 1024L).toInt
    (ch, rate, 16, dataBytes)
  }

  def synthWavPayload(id: Long): Array[Byte] = {
    val (ch, rate, bits, dataBytes) = synthWavParams(id)
    val noise = new Array[Byte](dataBytes)
    new java.util.Random(id).nextBytes(noise)
    val junk = "graftINFO".getBytes("US-ASCII") // odd length: exercises
    // the word-alignment pad (the zero byte after it) the walker must honor
    val list = java.nio.ByteBuffer.allocate(8 + junk.length + 1)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
      .put("LIST".getBytes("US-ASCII")).putInt(junk.length).put(junk)
    wavHeader(36 + junk.length + 1 + dataBytes, // riff size (approx ok)
      list.array(), ch, rate, bits, dataBytes).put(noise).array()
  }

  /** The synthetic WAV builders' header: RIFF/WAVE with `riffSize`, the
    * whole chunks `pre`, a 16-byte PCM `fmt `, and the `data` chunk
    * header; the buffer has room for exactly `dataBytes` of samples.
    */
  private def wavHeader(riffSize: Int, pre: Array[Byte], ch: Int,
      rate: Int, bits: Int, dataBytes: Int): java.nio.ByteBuffer = {
    val bb = java.nio.ByteBuffer.allocate(44 + pre.length + dataBytes)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    bb.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
    bb.put("WAVE".getBytes("US-ASCII")).put(pre)
    bb.put("fmt ".getBytes("US-ASCII")).putInt(16)
    bb.putShort(1.toShort).putShort(ch.toShort) // PCM, channels
    bb.putInt(rate).putInt(rate * ch * bits / 8) // rate, byte rate
    bb.putShort((ch * bits / 8).toShort).putShort(bits.toShort)
    bb.put("data".getBytes("US-ASCII")).putInt(dataBytes)
  }

  /** Distributed WAV metadata extraction — the m03 query body (same
    * shape as [[imageDims]]: narrow map, blobs never shuffled); a blob
    * [[AudioCodec.decodeWavMs]] rejects is a -1 sentinel row.
    */
  def audioMeta(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { id =>
        AudioCodec.decodeWavMs(synthWavPayload(id)) match {
          case Some((ch, rate, bits, ms)) => (id, ch, rate, bits, ms)
          case None => (id, -1, -1, -1, -1L)
        }
      }
      .toDF("media_id", "channels", "sample_rate", "bits", "duration_ms")
  }

  /** REAL audio SAMPLE decode — 16-bit PCM WAV: a projection of
    * [[AudioCodec]]'s chunk walk reading the interleaved little-endian
    * samples at the data chunk's offset. Only format code 1 (PCM) at 16
    * bits qualifies; other declarations, a data size that is not whole
    * frames, or one past the payload end (truncation) classify, never
    * throw. No size gate: the samples ARE payload bytes.
    */
  object PcmCodec {

    /** Some((channels, sampleRate, interleavedSamples)) or None. */
    def decodePcm16(p: Array[Byte]): Option[(Int, Int, Array[Short])] = {
      val (fmt, data) = AudioCodec.chunks(p)
      for {
        (code, ch, rate, bits) <- fmt
        (off, size) <- data
        if code == 1 && bits == 16 && ch > 0 && rate > 0
        // whole frames only, fully present in the payload (a declared
        // size past the end is truncation, not "read what's there")
        if size % (2L * ch) == 0 && off + size <= p.length.toLong
      } yield {
        val n = (size / 2L).toInt
        val out = new Array[Short](n)
        var j = 0
        while (j < n) {
          out(j) = le16(p, off + 2 * j).toShort
          j += 1
        }
        (ch, rate, out)
      }
    }
  }

  /** Deterministic 16-bit PCM WAVs for the m07 oracle: closed-form
    * samples s(f, c) = ((f*7 + c*11 + id*31) mod 65536) - 32768 over
    * `n_frames = 50 + (id*13) mod 50` frames, mono/stereo by id
    * parity — DuckDB recomputes every per-channel sum and peak from
    * the formula without touching a byte of WAV.
    */
  def synthPcmParams(id: Long): (Int, Int, Int) =
    (1 + (id % 2).toInt, 8000 + ((id % 5) * 1000).toInt,
      50 + Math.floorMod(id * 13L, 50L).toInt)

  def synthPcmSample(id: Long, f: Int, c: Int): Int =
    Math.floorMod(f * 7L + c * 11L + id * 31L, 65536L).toInt - 32768

  def synthPcmWavPayload(id: Long): Array[Byte] = {
    val (ch, rate, frames) = synthPcmParams(id)
    val dataBytes = frames * ch * 2
    val bb = wavHeader(36 + dataBytes, Array.emptyByteArray, ch, rate, 16,
      dataBytes)
    var f = 0
    while (f < frames) {
      var c = 0
      while (c < ch) {
        bb.putShort(synthPcmSample(id, f, c).toShort)
        c += 1
      }
      f += 1
    }
    bb.array()
  }

  /** Distributed PCM sample stats over the synthetic table — the m07
    * query body: per-channel sum and peak (exact integers, hash-exact
    * comparison) from the DECODED interleaved samples; -1 sentinels
    * keep a decode regression loud.
    */
  def pcmSampleStats(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { id =>
        PcmCodec.decodePcm16(synthPcmWavPayload(id)) match {
          case Some((ch, rate, samples)) =>
            val frames = samples.length / ch
            val sums = new Array[Long](ch)
            val peaks = new Array[Int](ch)
            var j = 0
            while (j < samples.length) {
              val c = j % ch
              sums(c) += samples(j)
              peaks(c) = math.max(peaks(c), math.abs(samples(j).toInt))
              j += 1
            }
            def s(c: Int): Option[Long] = if (c < ch) Some(sums(c)) else None
            def pk(c: Int): Option[Int] = if (c < ch) Some(peaks(c)) else None
            (id, ch, rate, frames.toLong, s(0), s(1), pk(0), pk(1))
          case None =>
            (id, -1, -1, -1L, Option.empty[Long], Option.empty[Long],
              Option.empty[Int], Option.empty[Int])
        }
      }
      .toDF("media_id", "channels", "sample_rate", "n_frames",
        "sum_c0", "sum_c1", "peak_c0", "peak_c1")
  }

  /** Deterministic REAL image payloads for the m02 oracle: structurally
    * valid PNG/JPEG headers (by parity of id) carrying closed-form
    * dimensions any engine can recompute —
    * w = 16 + (id * 2654435761) mod 496, h = 16 + (id * 40503) mod 496
    * — followed by seeded noise standing in for the compressed pixel
    * data (the parser never reads past the frame header, exactly like
    * production dimension extraction). PNG CRCs are not backfilled
    * (the parser, like most fast-path dimension sniffers, does not
    * validate them); offsets are pinned against REAL hand-assembled
    * spec fixtures in OpsSpec, so a symmetric construct/parse bug
    * cannot hide.
    */
  def synthImageDims(id: Long): (Int, Int) =
    (16 + Math.floorMod(id * 2654435761L, 496L).toInt,
      16 + Math.floorMod(id * 40503L, 496L).toInt)

  def synthImagePayload(id: Long): Array[Byte] = {
    val (w, h) = synthImageDims(id)
    val noise = new Array[Byte](64)
    new java.util.Random(id).nextBytes(noise)
    val bb = java.nio.ByteBuffer.allocate(64 + noise.length)
    if (id % 2 == 0) {
      bb.put(ImageCodec.PngSig)
      bb.putInt(13).put("IHDR".getBytes("US-ASCII"))
      bb.putInt(w).putInt(h)
      bb.put(8.toByte).put(2.toByte) // bit depth, truecolor
      bb.put(0.toByte).put(0.toByte).put(0.toByte) // comp/filter/interlace
      bb.putInt(0) // CRC (not validated by dimension sniffers)
    } else {
      bb.putShort(0xffd8.toShort) // SOI
      bb.putShort(0xffe0.toShort).putShort(16) // APP0/JFIF
      bb.put("JFIF".getBytes("US-ASCII")).put(0.toByte)
      bb.putShort(0x0101.toShort).put(0.toByte)
      bb.putShort(1).putShort(1).put(0.toByte).put(0.toByte)
      // a COM segment so the parser proves it WALKS segments
      val comment = "graft".getBytes("US-ASCII")
      bb.putShort(0xfffe.toShort).putShort((2 + comment.length).toShort)
      bb.put(comment)
      bb.putShort(0xffc0.toShort).putShort(17) // SOF0, 3 components
      bb.put(8.toByte).putShort(h.toShort).putShort(w.toShort)
      bb.put(3.toByte)
      bb.put(Array(1, 0x22, 0, 2, 0x11, 1, 3, 0x11, 1).map(_.toByte))
    }
    bb.put(noise, 0, math.min(noise.length, bb.remaining()))
    java.util.Arrays.copyOf(bb.array(), bb.position())
  }

  /** Distributed dimension extraction over the synthetic image table —
    * the m02 query body: batched per-partition parse (one shared parser
    * path per task, no per-row codec setup), blobs never shuffled (the
    * output is 3 ints + a string per row).
    */
  def imageDims(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { id =>
        val dims = ImageCodec.decodeDims(synthImagePayload(id))
        val (fmt, w, h) = dims.getOrElse(("undecodable", -1, -1))
        (id, fmt, w, h)
      }
      .toDF("media_id", "format", "width", "height")
  }

  /** Deterministic REAL PNG payloads for the m05 oracle: complete
    * spec-valid files — CRC'd chunks, zlib-deflated IDAT (split across
    * two IDAT members so the one-stream rule is exercised), and
    * per-scanline filters cycling through ALL FIVE filter types
    * (`y % 5`), so every unfilter path sits on the oracle's critical
    * line. Pixels are the closed form
    * v(x,y,c) = (x*7 + y*13 + c*29 + id*31) mod 256; color type
    * cycles gray/truecolor/truecolor+alpha by id % 3. DuckDB
    * recomputes the per-channel sums from the same closed form
    * without touching a byte of PNG.
    */
  def synthPngDims(id: Long): (Int, Int) =
    (8 + Math.floorMod(id * 2654435761L, 48L).toInt,
      8 + Math.floorMod(id * 40503L, 40L).toInt)

  def synthPngChannels(id: Long): Int = Seq(1, 3, 4)((id % 3).toInt)

  def synthPngValue(id: Long, x: Int, y: Int, c: Int): Int =
    Math.floorMod(x * 7L + y * 13L + c * 29L + id * 31L, 256L).toInt

  def synthPngPayload(id: Long): Array[Byte] = {
    val (w, h) = synthPngDims(id)
    val ch = synthPngChannels(id)
    val colorType = ch match { case 1 => 0; case 3 => 2; case _ => 6 }
    val stride = w * ch
    val raw = new Array[Byte](h * (stride + 1))
    var y = 0
    while (y < h) {
      val ft = y % 5
      raw(y * (stride + 1)) = ft.toByte
      var x = 0
      while (x < stride) {
        // filter in CLOSED FORM over the unfiltered neighbors — the
        // encoder never consults the decoder, so a symmetric bug in a
        // shared path cannot cancel out
        val (px, c) = (x / ch, x % ch)
        val cur = synthPngValue(id, px, y, c)
        val a = if (px > 0) synthPngValue(id, px - 1, y, c) else 0
        val b = if (y > 0) synthPngValue(id, px, y - 1, c) else 0
        val ul = if (px > 0 && y > 0) synthPngValue(id, px - 1, y - 1, c)
          else 0
        val f = ft match {
          case 0 => cur
          case 1 => cur - a
          case 2 => cur - b
          case 3 => cur - ((a + b) >> 1)
          case _ => cur - PixelCodec.paeth(a, b, ul)
        }
        raw(y * (stride + 1) + 1 + x) = (f & 0xff).toByte
        x += 1
      }
      y += 1
    }
    val ihdr = java.nio.ByteBuffer.allocate(13)
      .putInt(w).putInt(h)
      .put(8.toByte).put(colorType.toByte)
      .put(0.toByte).put(0.toByte).put(0.toByte).array()
    val z = deflate(raw)
    val split = z.length / 2 // two IDAT members, one zlib stream
    ImageCodec.PngSig ++ pngChunk("IHDR", ihdr) ++
      pngChunk("IDAT", java.util.Arrays.copyOfRange(z, 0, split)) ++
      pngChunk("IDAT", java.util.Arrays.copyOfRange(z, split, z.length)) ++
      pngChunk("IEND", Array.emptyByteArray)
  }

  private[ops] def pngChunk(typ: String, data: Array[Byte]): Array[Byte] = {
    val t = typ.getBytes("US-ASCII")
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(data)
    java.nio.ByteBuffer.allocate(12 + data.length)
      .putInt(data.length).put(t).put(data)
      .putInt(crc.getValue.toInt).array()
  }

  private def deflate(raw: Array[Byte]): Array[Byte] = {
    val d = new java.util.zip.Deflater()
    try {
      d.setInput(raw); d.finish()
      val buf = new Array[Byte](raw.length + 64)
      val out = new java.io.ByteArrayOutputStream()
      while (!d.finished()) out.write(buf, 0, d.deflate(buf))
      out.toByteArray
    } finally d.end()
  }

  /** Per-channel sample sums of decoded pixels (slots past `channels`
    * stay 0) — exact integers, so the m05/m08 comparisons are
    * hash-exact with no floating-point parity argument needed (means
    * are one division away for callers that want them).
    */
  def channelSums(px: PixelCodec.Pixels): Array[Long] = {
    val sums = new Array[Long](4)
    var i = 0
    while (i < px.data.length) {
      sums(i % px.channels) += px.data(i) & 0xff
      i += 1
    }
    sums
  }

  /** Distributed PNG pixel decode over the synthetic table — the m05
    * query body: batched per-partition decode (same shape as
    * [[imageDims]]), blobs never shuffled (the output is four ints +
    * four longs per row). Absent channels are null, undecodable rows
    * carry -1 dims (the fixture set contains none; the sentinel keeps
    * a decode regression loud instead of dropping rows).
    */
  def pngPixelStats(spark: SparkSession, n: Long): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .map { id =>
        PixelCodec.decodePng(synthPngPayload(id)) match {
          case Some(px) =>
            val s = channelSums(px)
            def sum(c: Int) = if (c < px.channels) Some(s(c)) else None
            (id, px.width, px.height, px.channels, sum(0), sum(1), sum(2),
              sum(3))
          case None =>
            (id, -1, -1, -1, Option.empty[Long], Option.empty[Long],
              Option.empty[Long], Option.empty[Long])
        }
      }
      .toDF("media_id", "width", "height", "channels",
        "sum_c0", "sum_c1", "sum_c2", "sum_c3")
  }

  /** REAL image resize (the brief's `resize` op) — nearest-neighbor
    * downsample to `side` x `side` over the DECODED pixel buffer
    * (PNG spec top-left origin; source index floor(t * dim / side),
    * exact in integers). The thumbnail is computed from the bytes
    * [[PixelCodec]] recovered, not from any closed form — the m06
    * oracle brings the closed form, so a decode OR sampling bug
    * diverges. One output row per thumbnail pixel keeps the oracle
    * hash-exact; a production caller would pack `side*side*ch` bytes
    * back into a binary column instead (same arithmetic).
    */
  def resizeNearest(px: PixelCodec.Pixels, side: Int): Array[Byte] = {
    val out = new Array[Byte](side * side * px.channels)
    var ty = 0
    while (ty < side) {
      val sy = ty * px.height / side
      var tx = 0
      while (tx < side) {
        val sx = tx * px.width / side
        val src = (sy * px.width + sx) * px.channels
        val dst = (ty * side + tx) * px.channels
        var c = 0
        while (c < px.channels) {
          out(dst + c) = px.data(src + c)
          c += 1
        }
        tx += 1
      }
      ty += 1
    }
    out
  }

  /** Distributed thumbnailing over the synthetic PNG table — the m06
    * query body: decode + resize per partition (blobs never shuffled;
    * only side*side*ch ints per row leave the map). Undecodable rows
    * would surface as -1 sentinels, loud not silent (the fixture set
    * contains none).
    */
  def pngThumbnails(spark: SparkSession, n: Long, side: Int): DataFrame = {
    import spark.implicits._
    spark.range(0L, n, 1L, spark.sparkContext.defaultParallelism)
      .flatMap { id =>
        PixelCodec.decodePng(synthPngPayload(id)) match {
          case Some(px) =>
            val thumb = resizeNearest(px, side)
            for (ty <- 0 until side; tx <- 0 until side) yield {
              def ch(c: Int): Option[Int] =
                if (c < px.channels)
                  Some(thumb((ty * side + tx) * px.channels + c) & 0xff)
                else None
              (id, tx, ty, ch(0), ch(1), ch(2), ch(3))
            }
          case None =>
            Seq((id, -1, -1, Option.empty[Int], Option.empty[Int],
              Option.empty[Int], Option.empty[Int]))
        }
      }
      .toDF("media_id", "tx", "ty", "c0", "c1", "c2", "c3")
  }

  /** STUB decoder for VIDEO FRAMES only (everything else is
    * [[realFeatures]]); a real one would wrap a video codec library.
    * The dataflow around it is production-shaped, and the video
    * container surface is real ([[VideoCodec]]).
    */
  object StubCodec {
    /** "Decode": check the 16-byte MEDI header, hash the body into a
      * fixed-size pseudo-feature vector. Deterministic per payload;
      * None for anything else.
      */
    def decodeToFeatures(payload: Array[Byte],
        dims: Int): Option[(Long, Array[Float])] = {
      if (payload == null || payload.length < 16 ||
        be32(payload, 0) != 0x4D454449L) return None // "MEDI"
      var checksum = 1469598103934665603L // FNV-1a
      val feat = new Array[Float](dims)
      var i = 16
      while (i < payload.length) {
        checksum = (checksum ^ (payload(i) & 0xffL)) * 1099511628211L
        feat(i % dims) += (payload(i) & 0xff) / 255.0f
        i += 1
      }
      Some((checksum, feat))
    }
  }

  /** Decode + feature-extract: batched per partition with one codec
    * instance per task (the mapInPandas batch-shape analog in Scala).
    * Output drops the payload — downstream never shuffles blobs. Never
    * throws: a blob no decoder accepts keeps its row, with null
    * `checksum` and `feat`.
    *
    * Partitioning: `numTasks` (when given) sets the repartition width —
    * the caller sizes it so each task holds a bounded number of payload
    * BYTES (e.g. totalBytes / 256MB). The default, cluster parallelism,
    * is right for freshly-scanned media tables because
    * `spark.sql.files.maxPartitionBytes` already splits fat binary
    * files at scan time.
    */
  def decodeFeatures(media: Dataset[MediaRow], dims: Int = 16,
      numTasks: Option[Int] = None): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media
      .repartition(math.max(1, numTasks.getOrElse(
        media.sparkSession.sparkContext.defaultParallelism)))
      .mapPartitions { it =>
        // codec init happens once per task, not per row. Dispatch:
        // the REAL decoders ([[realFeatures]]), then the disclosed
        // stub (video FRAME decode needs media libs this container
        // lacks); a blob neither accepts gets null features
        it.map { m =>
          val f = realFeatures(m.payload, dims)
            .orElse(StubCodec.decodeToFeatures(m.payload, dims))
          MediaFeatures(m.media_id, m.kind,
            if (m.payload == null) 0 else m.payload.length,
            f.map(_._1), f.map(_._2.toSeq))
        }
      }
  }

  /** REAL content features of one blob — decoded PNG, then
    * baseline-JPEG pixels ([[pngFeatures]]), then 16-bit PCM samples
    * ([[pcmFeatures]]); None when none decodes it. The one dispatch of
    * [[decodeFeatures]] and the cycle's `media_features` expression.
    */
  def realFeatures(payload: Array[Byte],
      dims: Int): Option[(Long, Array[Float])] =
    PixelCodec.decodePng(payload).orElse(Jpeg.decodeBaseline(payload))
      .map(pngFeatures(_, dims))
      .orElse(PcmCodec.decodePcm16(payload).map { case (ch, rate, s) =>
        pcmFeatures(ch, rate, s, dims)
      })

  /** REAL feature vector from decoded PCM samples: per-channel mean
    * and RMS (normalized to [-1,1]/[0,1]) in slots 0-3 / 4-7, then
    * channels / sample rate (kHz) / duration (s) — the loudness and
    * silence statistics an audio curation pass filters on. Checksum is
    * CRC32 of the sample bytes in decode order (content-addressed).
    */
  def pcmFeatures(ch: Int, rate: Int, samples: Array[Short],
      dims: Int): (Long, Array[Float]) = {
    val crc = new java.util.zip.CRC32()
    val feat = new Array[Float](dims)
    val frames = samples.length / ch
    val sums = new Array[Long](ch)
    val sqs = new Array[Long](ch)
    var j = 0
    while (j < samples.length) {
      val v = samples(j).toInt
      crc.update(v & 0xff); crc.update((v >> 8) & 0xff)
      val c = j % ch
      sums(c) += v
      sqs(c) += v.toLong * v
      j += 1
    }
    var c = 0
    while (c < ch && c < 4 && frames > 0) {
      if (c < dims) feat(c) = (sums(c).toDouble / frames / 32768.0).toFloat
      if (c + 4 < dims) feat(c + 4) =
        (math.sqrt(sqs(c).toDouble / frames) / 32768.0).toFloat
      c += 1
    }
    if (dims > 8) feat(8) = ch.toFloat
    if (dims > 9) feat(9) = rate / 1000.0f
    if (dims > 10) feat(10) = frames.toFloat / rate
    (crc.getValue, feat)
  }

  /** REAL feature vector from decoded PNG samples: per-channel mean
    * and population std (normalized to [0,1]) in slots 0-3 / 4-7,
    * then width/height/channels — the content statistics a curation
    * pipeline filters on (flat images, blown-out channels). Checksum
    * is CRC32 of the DECODED samples, so re-encodings of the same
    * pixels collide (content-addressed), unlike the stub's
    * payload-byte hash.
    */
  def pngFeatures(px: PixelCodec.Pixels, dims: Int): (Long, Array[Float]) = {
    val crc = new java.util.zip.CRC32()
    crc.update(px.data)
    val feat = new Array[Float](dims)
    val n = px.width.toLong * px.height
    val sums = new Array[Long](px.channels)
    val sqs = new Array[Long](px.channels)
    var i = 0
    while (i < px.data.length) {
      val v = px.data(i) & 0xff
      val c = i % px.channels
      sums(c) += v
      sqs(c) += v.toLong * v
      i += 1
    }
    var c = 0
    while (c < px.channels && c < 4) {
      val mean = sums(c).toDouble / n
      if (c < dims) feat(c) = (mean / 255.0).toFloat
      if (c + 4 < dims) feat(c + 4) =
        (math.sqrt(math.max(0.0, sqs(c).toDouble / n - mean * mean))
          / 255.0).toFloat
      c += 1
    }
    if (dims > 8) feat(8) = px.width.toFloat
    if (dims > 9) feat(9) = px.height.toFloat
    if (dims > 10) feat(10) = px.channels.toFloat
    (crc.getValue, feat)
  }
}
