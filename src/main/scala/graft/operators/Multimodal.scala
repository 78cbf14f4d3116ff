package graft.operators

import graft.Materialize._

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing: image/audio/video as opaque `binary`
  * columns with typed metadata, processed in partition-batched map
  * functions (the Scala analog of `mapInPandas` batch UDFs).
  *
  * The Spark-side plumbing — schema, batching, partition sizing — is
  * real and tested. Decode is REAL wherever the JDK ships a codec — no
  * external dependency:
  *  - images (PNG/JPEG/BMP/GIF/WBMP via `javax.imageio`): true
  *    width/height plus an 8-bin luminance histogram as features;
  *  - PCM audio (WAV/AIFF/AU via `javax.sound.sampled`): sample rate +
  *    channels plus 8 per-segment RMS amplitudes as features;
  *  - MJPEG video in AVI (RIFF container parsed directly, frames are
  *    plain JPEGs ImageIO decodes): header dimensions plus an 8-point
  *    temporal brightness profile; frame sampling emits REAL JPEG
  *    payloads;
  *  - ISO-BMFF containers (MP4/MOV/M4A, via `parseMp4Meta`'s box walk):
  *    true video dimensions, presentation duration, and per-handler
  *    track tallies — container METADATA only; frame decode of those
  *    codecs (H.264/AAC) stays stubbed;
  *  - EBML containers (MKV/WebM, via `parseMkvMeta`'s element walk):
  *    the same metadata surface — PixelWidth/Height, TimestampScale ×
  *    Duration, TrackType tallies; frame decode (VP9/AV1/Opus) stays
  *    stubbed.
  * Rows with any other format (compressed audio — those codecs are not
  * in the JDK and ffmpeg is not in this container), and corrupt bytes
  * of a claimed format, fall back to the clearly-marked deterministic
  * STUB (`decodeStub`), which derives stable pseudo-metadata from the
  * bytes; swapping in real bindings for those touches only the stub
  * functions.
  *
  * Scale notes: media rows are large — the entry point re-partitions by
  * a target bytes-per-partition budget before mapping, so a 100 TB media
  * table becomes many bounded tasks instead of a few OOM-ing ones; the
  * per-partition iterator maps one row at a time (no whole-partition
  * materialization).
  */
object Multimodal {

  val MediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("bytes", BinaryType),
    StructField("format", StringType)))

  val FeatureSchema: StructType = StructType(Seq(
    StructField("media_id", LongType, nullable = false),
    StructField("format", StringType),
    StructField("n_bytes", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("checksum", LongType),
    StructField("features", ArrayType(FloatType))))

  /** Formats routed to the REAL `javax.imageio` decoder (lowercased
    * `format` column values). Everything else uses the stub. */
  val ImageFormats: Set[String] = Set("png", "jpg", "jpeg", "bmp", "gif", "wbmp")

  /** REAL image decode via the JDK's bundled ImageIO codecs — no
    * external library. Returns None when the bytes don't decode (then
    * the caller falls back to the labeled stub, so a corrupt file
    * degrades instead of failing the task). Features are an 8-bin
    * luminance histogram (Rec.601 integer weights), normalized by the
    * pixel count — deterministic for a given decoded raster. */
  def decodeImage(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] = {
    if (bytes.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) None
      else {
        val w = img.getWidth
        val h = img.getHeight
        val hist = new Array[Float](8)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val rgb = img.getRGB(x, y)
            val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
              (rgb & 0xff) * 114) / 1000
            hist(lum >> 5) += 1f
            x += 1
          }
          y += 1
        }
        val n = (w.toLong * h).toFloat
        var j = 0
        while (j < 8) { hist(j) /= n; j += 1 }
        Some((w, h, byteChecksum(bytes), hist))
      }
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Formats routed to the REAL `javax.sound.sampled` decoder (JDK
    * ships WAV/AIFF/AU parsers — PCM audio, no external codec). */
  val AudioFormats: Set[String] = Set("wav", "wave", "aiff", "aif", "au")

  /** REAL audio decode via the JDK's bundled sound API. Maps the clip
    * into the shared feature schema: width = sample rate (Hz),
    * height = channels, features = 8 per-segment RMS amplitudes
    * (normalized to [0,1]) over the first `maxFrames` frames — the
    * audio analog of the image luminance histogram. None when the
    * bytes aren't a JDK-parseable audio container (caller falls back
    * to the stub). */
  def decodeAudio(bytes: Array[Byte],
      maxFrames: Int = 1 << 20): Option[(Int, Int, Long, Array[Float])] = {
    if (bytes.isEmpty) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        if (bits != 16 && bits != 8) return None // PCM 8/16-bit only
        val channels = fmt.getChannels
        val frameBytes = fmt.getFrameSize
        val nFrames = math.min(
          if (in.getFrameLength >= 0) in.getFrameLength else maxFrames.toLong,
          maxFrames.toLong).toInt
        val buf = new Array[Byte](nFrames * frameBytes)
        var off = 0
        var read = 0
        while (off < buf.length && read >= 0) {
          read = in.read(buf, off, buf.length - off)
          if (read > 0) off += read
        }
        val frames = off / frameBytes
        if (frames == 0) return None
        val feats = new Array[Float](8)
        val segLen = math.max(1, frames / 8)
        val bigEndian = fmt.isBigEndian
        var seg = 0
        while (seg < 8) {
          val from = seg * segLen
          val to = math.min(frames, from + segLen)
          var sumSq = 0.0
          var f = from
          while (f < to) {
            // first channel of each frame
            val base = f * frameBytes
            val s =
              if (bits == 16) {
                val (b0, b1) = (buf(base) & 0xff, buf(base + 1) & 0xff)
                val raw = if (bigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
                (raw.toShort.toDouble) / 32768.0
              } else (buf(base) & 0xff) / 255.0 * 2.0 - 1.0
            sumSq += s * s
            f += 1
          }
          feats(seg) = if (to > from) math.sqrt(sumSq / (to - from)).toFloat else 0f
          seg += 1
        }
        Some(((fmt.getSampleRate + 0.5f).toInt, channels, byteChecksum(bytes), feats))
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Formats routed to the REAL RIFF/AVI parser. */
  val VideoFormats: Set[String] = Set("avi")

  /** REAL video decode for MJPEG-in-AVI — the one mainstream video
    * container that needs no external codec: AVI is a RIFF file whose
    * 'movi' list carries one complete JPEG per '..dc'/'..db' chunk, and
    * the JDK's ImageIO already decodes JPEG. Parses the container
    * directly (little-endian RIFF chunks, even-padded): dimensions from
    * the 'avih' main header, features = mean luminance of up to 8
    * evenly-sampled decoded frames — a real temporal brightness profile
    * (padded by repeating the last frame when the clip is shorter).
    * Returns None on anything malformed (then the caller stubs), and on
    * non-MJPEG payloads (frames that are not JPEG fail ImageIO — no
    * false features from compressed codecs). Other containers (mp4/mkv)
    * still stub: their codecs are not in the JDK. */
  def decodeAviMjpeg(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] =
    parseAvi(bytes).flatMap { case (w, h, frames) =>
      if (frames.isEmpty) None
      else {
        val n = math.min(8, frames.length)
        val sampled = (0 until 8).map { j =>
          frames(math.min(frames.length - 1, j * frames.length / math.max(1, n)))
        }
        val lums = sampled.map { fb =>
          decodeImage(fb).map { case (_, _, _, hist) =>
            // mean luminance bucket from the 8-bin histogram: weighted
            // bin centers, already normalized by pixel count
            var s = 0f; var b = 0
            while (b < hist.length) { s += hist(b) * ((b + 0.5f) / hist.length); b += 1 }
            s
          }
        }
        if (lums.exists(_.isEmpty)) None
        else Some((w, h, byteChecksum(bytes), lums.map(_.get).toArray))
      }
    }

  /** RIFF/AVI container walk: returns (width, height, frame chunks) for
    * an 'AVI ' RIFF, None on malformed structure. Frame chunks are the
    * raw '..dc'/'..db' payloads in stream order. */
  private[operators] def parseAvi(bytes: Array[Byte])
      : Option[(Int, Int, Vector[Array[Byte]])] = {
    def u32(at: Int): Long =
      if (at + 4 > bytes.length) -1L
      else (bytes(at) & 0xffL) | ((bytes(at + 1) & 0xffL) << 8) |
        ((bytes(at + 2) & 0xffL) << 16) | ((bytes(at + 3) & 0xffL) << 24)
    def fourcc(at: Int): String =
      if (at + 4 > bytes.length) ""
      else new String(bytes, at, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (bytes.length < 24 || fourcc(0) != "RIFF" || fourcc(8) != "AVI ") return None
    var width = 0; var height = 0
    val frames = Vector.newBuilder[Array[Byte]]
    // walk chunks recursively; LIST payloads start with a 4-byte subtype
    def walk(from: Int, until: Int): Boolean = {
      var at = from
      while (at + 8 <= until) {
        val id = fourcc(at)
        val sz = u32(at + 4)
        if (sz < 0 || at + 8 + sz > until) return false
        val body = at + 8
        id match {
          case "LIST" => if (!walk(body + 4, body + sz.toInt)) return false
          case "avih" =>
            if (sz < 40) return false
            width = u32(body + 32).toInt
            height = u32(body + 36).toInt
          case _ if id.length == 4 && (id.endsWith("dc") || id.endsWith("db")) =>
            frames += java.util.Arrays.copyOfRange(bytes, body, body + sz.toInt)
          case _ => ()
        }
        at = body + sz.toInt + (sz.toInt & 1) // chunks pad to even sizes
      }
      true
    }
    if (!walk(12, math.min(bytes.length, 8 + u32(4).toInt))) None
    else if (width <= 0 || height <= 0) None
    else Some((width, height, frames.result()))
  }

  /** Real frame extraction for MJPEG AVIs: `n` evenly-spaced actual
    * JPEG frame payloads. None when the container doesn't parse. */
  def frameSampleAvi(bytes: Array[Byte], n: Int): Option[Seq[Array[Byte]]] =
    parseAvi(bytes).flatMap { case (_, _, frames) =>
      if (frames.isEmpty) None
      else Some((0 until n).map(i =>
        frames(math.min(frames.length - 1, i * frames.length / math.max(1, n)))))
    }

  /** Formats routed to the ISO-BMFF container-metadata parser. */
  val Mp4Formats: Set[String] = Set("mp4", "m4a", "m4v", "mov")

  /** Container-level metadata of an ISO-BMFF (MP4/QuickTime) file. */
  case class Mp4Meta(timescale: Long, durationMs: Long, nTracks: Int,
      nVideo: Int, nAudio: Int, width: Int, height: Int)

  /** Pure-JDK ISO-BMFF box walk (ISO/IEC 14496-12): size/type box
    * framing with 64-bit `largesize` and size-0 (to-EOF) handled,
    * recursing through moov/trak/mdia/minf/stbl. Yields presentation
    * duration (mvhd timescale + duration), track count, per-handler
    * (vide/soun hdlr) track tallies, and the video track's pixel
    * dimensions (tkhd 16.16 fixed-point width/height). No codec is
    * touched — this is the metadata a 100 TB media-curation pass
    * filters/shards on (duration buckets, resolution floors, audio-only
    * detection) without decoding a single frame. None on anything
    * malformed (truncated box, size overrunning its parent, missing
    * moov/mvhd) — the caller degrades to the labeled stub exactly like
    * the image/audio paths. FRAME decode for these containers remains
    * stubbed: the codecs (H.264/AAC/…) are not in the JDK. */
  private[graft] def parseMp4Meta(bytes: Array[Byte]): Option[Mp4Meta] = {
    val len = bytes.length.toLong
    def u32(at: Long): Long =
      ((bytes(at.toInt) & 0xffL) << 24) | ((bytes(at.toInt + 1) & 0xffL) << 16) |
        ((bytes(at.toInt + 2) & 0xffL) << 8) | (bytes(at.toInt + 3) & 0xffL)
    def u64(at: Long): Long = (u32(at) << 32) | u32(at + 4)
    def cc(at: Long): String =
      new String(bytes, at.toInt, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (len < 16) return None
    val containers = Set("moov", "trak", "mdia", "minf", "stbl", "edts")
    var timescale = 0L; var duration = -1L
    var nTracks = 0; var nVideo = 0; var nAudio = 0
    var width = 0; var height = 0
    var sawMoov = false
    final class Trk { var w = 0; var h = 0; var handler = "" }
    def walk(from: Long, until: Long, trk: Trk): Boolean = {
      var at = from
      while (at + 8 <= until) {
        var size = u32(at); var hdr = 8L
        val typ = cc(at + 4)
        if (size == 1) {
          if (at + 16 > until) return false
          size = u64(at + 8); hdr = 16
        } else if (size == 0) size = until - at
        if (size < hdr || at + size > until) return false
        val body = at + hdr
        typ match {
          case "moov" =>
            sawMoov = true
            if (!walk(body, at + size, trk)) return false
          case "trak" =>
            val t = new Trk
            nTracks += 1
            if (!walk(body, at + size, t)) return false
            if (t.handler == "vide") {
              nVideo += 1
              if (t.w > 0) { width = t.w; height = t.h }
            } else if (t.handler == "soun") nAudio += 1
          case c if containers(c) =>
            if (!walk(body, at + size, trk)) return false
          case "mvhd" =>
            if (size - hdr < 4) return false
            if ((bytes(body.toInt) & 0xff) == 1) { // v1: 64-bit times
              if (size - hdr < 32) return false
              timescale = u32(body + 20); duration = u64(body + 24)
            } else {
              if (size - hdr < 20) return false
              timescale = u32(body + 12); duration = u32(body + 16)
            }
          case "tkhd" => // width/height: trailing 8 bytes, 16.16 fixed
            if (size - hdr >= 8) {
              trk.w = (u32(at + size - 8) >>> 16).toInt
              trk.h = (u32(at + size - 4) >>> 16).toInt
            }
          case "hdlr" => // handler 4cc after version/flags + pre_defined
            if (size - hdr >= 12) trk.handler = cc(body + 8)
          case _ => ()
        }
        at += size
      }
      true
    }
    try {
      if (!walk(0, len, new Trk) || !sawMoov || timescale <= 0 || duration < 0)
        None
      else Some(Mp4Meta(timescale,
        // round-half-up ms; duration is in mvhd timescale units
        (duration * 1000 + timescale / 2) / timescale,
        nTracks, nVideo, nAudio, width, height))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[parseMp4Meta]] in the feature-row shape: (width, height,
    * checksum, features) with features = real container metadata
    * [duration_s, n_tracks, n_video, n_audio, timescale, 0, 0, 0] —
    * the same 8-float arity as the decoding paths. */
  def decodeMp4Meta(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] =
    parseMp4Meta(bytes).map { m =>
      (m.width, m.height, byteChecksum(bytes),
        Array(m.durationMs / 1000f, m.nTracks.toFloat, m.nVideo.toFloat,
          m.nAudio.toFloat, m.timescale.toFloat, 0f, 0f, 0f))
    }

  /** Formats routed to the EBML (Matroska/WebM) container parser. */
  val MkvFormats: Set[String] = Set("mkv", "webm")

  /** Container-level metadata of an EBML (Matroska/WebM) file.
    * `timestampScaleNs` is ns per timestamp unit (Matroska default
    * 1,000,000 = ms-precision timestamps). */
  case class MkvMeta(timestampScaleNs: Long, durationMs: Long, nTracks: Int,
      nVideo: Int, nAudio: Int, width: Int, height: Int)

  /** Pure-JDK EBML walk (RFC 8794 framing + the Matroska/WebM element
    * vocabulary) — the MKV sibling of [[parseMp4Meta]]: variable-width
    * element IDs (marker bit kept, per spec) and sizes (marker stripped,
    * all-value-bits-ones = unknown length), recursing through
    * Segment/Info/Tracks/TrackEntry/Video. Yields presentation duration
    * (Info TimestampScale × float Duration), track count, per-TrackType
    * tallies (1=video, 2=audio), and the first video track's
    * PixelWidth/PixelHeight. No codec is touched. An unknown-size
    * Segment extends to its parent's end (the streaming-mux convention);
    * an unknown-size NON-container can't be skipped, and that — like any
    * truncated or parent-overrunning element — degrades to None and the
    * caller's labeled stub. FRAME decode remains stubbed: the codecs
    * (VP9/AV1/Opus/…) are not in the JDK. */
  private[graft] def parseMkvMeta(bytes: Array[Byte]): Option[MkvMeta] = {
    val len = bytes.length
    def vintWidth(b: Int): Int = {
      var mask = 0x80; var w = 1
      while (w <= 8 && (b & mask) == 0) { mask >>= 1; w += 1 }
      w
    }
    // element ID: 1-4 bytes, value INCLUDES the marker bit (the spec's
    // as-stored form, matching the published element-ID tables)
    def readId(at: Int): Option[(Long, Int)] = {
      if (at >= len) return None
      val w = vintWidth(bytes(at) & 0xff)
      if (w > 4 || at + w > len) return None
      var v = 0L; var i = 0
      while (i < w) { v = (v << 8) | (bytes(at + i) & 0xffL); i += 1 }
      Some((v, w))
    }
    // data size: 1-8 bytes, marker stripped; all value bits set means
    // "unknown" → surfaced as -1
    def readSize(at: Int): Option[(Long, Int)] = {
      if (at >= len) return None
      val first = bytes(at) & 0xff
      val w = vintWidth(first)
      if (w > 8 || at + w > len) return None
      var v = (first & (0xff >>> w)).toLong
      var i = 1
      while (i < w) { v = (v << 8) | (bytes(at + i) & 0xffL); i += 1 }
      val allOnes = (1L << (7 * w)) - 1
      Some((if (v == allOnes) -1L else v, w))
    }
    def uint(at: Int, n: Int): Long = {
      var v = 0L; var i = 0
      while (i < n) { v = (v << 8) | (bytes(at + i) & 0xffL); i += 1 }
      v
    }
    val EbmlHeader = 0x1A45DFA3L; val Segment = 0x18538067L
    val Info = 0x1549A966L; val TimestampScale = 0x2AD7B1L
    val DurationEl = 0x4489L; val Tracks = 0x1654AE6BL
    val TrackEntry = 0xAEL; val TrackType = 0x83L
    val Video = 0xE0L; val PixelWidth = 0xB0L; val PixelHeight = 0xBAL
    val containers = Set(Segment, Info, Tracks, TrackEntry, Video)
    var sawEbml = false; var sawSegment = false; var sawInfo = false
    var tsScale = 1000000L // Matroska default: ms-precision timestamps
    var duration = -1.0
    var nTracks = 0; var nVideo = 0; var nAudio = 0
    var width = 0; var height = 0
    final class Trk { var typ = 0L; var w = 0; var h = 0 }
    def walk(from: Int, until: Int, trk: Trk): Boolean = {
      var at = from
      while (at < until) {
        val (id, idW) = readId(at) match {
          case Some(x) => x; case None => return false
        }
        val (sz, szW) = readSize(at + idW) match {
          case Some(x) => x; case None => return false
        }
        val body = at + idW + szW
        // unknown size: legal only on a container (Segment in practice)
        // — extend to the parent's end; anything else is unskippable
        val endL: Long =
          if (sz >= 0) body.toLong + sz
          else if (containers(id)) until.toLong
          else return false
        if (endL > until) return false
        val end = endL.toInt
        id match {
          case EbmlHeader => sawEbml = true // DocType vocabulary unused
          case Segment =>
            sawSegment = true
            if (!walk(body, end, trk)) return false
          case Info =>
            sawInfo = true
            if (!walk(body, end, trk)) return false
          case Tracks =>
            if (!walk(body, end, trk)) return false
          case TrackEntry =>
            val t = new Trk
            nTracks += 1
            if (!walk(body, end, t)) return false
            if (t.typ == 1) {
              nVideo += 1
              if (t.w > 0) { width = t.w; height = t.h }
            } else if (t.typ == 2) nAudio += 1
          case Video =>
            if (!walk(body, end, trk)) return false
          case TimestampScale => tsScale = uint(body, (end - body).toInt)
          case DurationEl => (end - body) match { // float, 4 or 8 bytes
            case 4 => duration = java.lang.Float.intBitsToFloat(uint(body, 4).toInt).toDouble
            case 8 => duration = java.lang.Double.longBitsToDouble(uint(body, 8))
            case _ => return false
          }
          case TrackType => trk.typ = uint(body, (end - body).toInt)
          case PixelWidth => trk.w = uint(body, (end - body).toInt).toInt
          case PixelHeight => trk.h = uint(body, (end - body).toInt).toInt
          case _ => () // skip (Cluster, SeekHead, Cues, codec privates…)
        }
        at = end
      }
      true
    }
    try {
      if (!walk(0, len, new Trk) || !sawEbml || !sawSegment || !sawInfo ||
        tsScale <= 0 || duration < 0) None
      else Some(MkvMeta(tsScale,
        math.round(duration * tsScale / 1e6), // ts units → ns → ms
        nTracks, nVideo, nAudio, width, height))
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** [[parseMkvMeta]] in the feature-row shape (same 8-float layout as
    * [[decodeMp4Meta]]; slot 4 carries the timestamp scale in ns). */
  def decodeMkvMeta(bytes: Array[Byte]): Option[(Int, Int, Long, Array[Float])] =
    parseMkvMeta(bytes).map { m =>
      (m.width, m.height, byteChecksum(bytes),
        Array(m.durationMs / 1000f, m.nTracks.toFloat, m.nVideo.toFloat,
          m.nAudio.toFloat, m.timestampScaleNs.toFloat, 0f, 0f, 0f))
    }

  /** Polynomial byte checksum — shared by both decode paths so the
    * lineage column is comparable regardless of which decoder ran. */
  def byteChecksum(bytes: Array[Byte]): Long = {
    var h = 0L
    var i = 0
    while (i < bytes.length) { h = (h * 31 + (bytes(i) & 0xff)) % 1000000007L; i += 1 }
    h
  }

  /** STUB decode — deterministic pseudo metadata/features from bytes.
    * Used for formats with no JDK codec (audio/video); replace with
    * ffmpeg bindings in a production deployment — everything downstream
    * is shape-compatible. */
  def decodeStub(bytes: Array[Byte]): (Int, Int, Long, Array[Float]) = {
    val h = byteChecksum(bytes)
    val w = 64 + (h % 1024).toInt            // pseudo width
    val ht = 64 + ((h / 1024) % 1024).toInt  // pseudo height
    val feats = new Array[Float](8)
    var j = 0
    while (j < 8) {
      feats(j) = (((h >> (j * 4)) & 0xffL).toFloat / 255.0f)
      j += 1
    }
    (w, ht, h, feats)
  }

  /** STUB frame sampler — yields `n` deterministic byte slices. */
  def frameSampleStub(bytes: Array[Byte], n: Int): Seq[Array[Byte]] = {
    if (bytes.isEmpty) Seq.empty
    else (0 until n).map { i =>
      val start = (bytes.length.toLong * i / n).toInt
      val end = math.min(bytes.length, start + math.max(1, bytes.length / n))
      java.util.Arrays.copyOfRange(bytes, start, end)
    }
  }

  /** Spread a bytes-heavy media frame so the CPU-bound decode runs at
    * cluster width, not input-split width (a 100 GB table loaded from a
    * few parquet splits would otherwise decode on a handful of tasks). */
  private def byBytesBudget(media: DataFrame,
      targetBytesPerPartition: Long): DataFrame = {
    val estBytes = media.queryExecution.optimizedPlan.stats.sizeInBytes
    // stats report defaultSizeInBytes (Long.MaxValue) when unknown (e.g.
    // RDD-backed frames) — keep the input partitioning in that case
    if (estBytes <= 0 || estBytes >= BigInt(Long.MaxValue)) media
    else {
      val parts = math.max(1, (estBytes / math.max(1L, targetBytesPerPartition))
        .min(BigInt(1 << 20)).toInt)
      if (parts > media.rdd.getNumPartitions) media.repartition(parts) else media
    }
  }

  /** Decode + feature-extract over a media DataFrame (media_id, bytes,
    * format). The partition count comes from Catalyst's size estimate
    * (file-scan bytes for tables) — metadata only, no `count()` scan of
    * the media table just to size partitions. */
  def extractFeatures(media: DataFrame,
      targetBytesPerPartition: Long = 128L * 1024 * 1024): DataFrame = {
    val repartitioned = byBytesBudget(media, targetBytesPerPartition)
    val enc = RowEncoder.encoderFor(FeatureSchema)
    // plain streaming map: one row in, one row out, never more than one
    // decoded raster live per task
    repartitioned.select("media_id", "bytes", "format").mapPartitions { it =>
      it.map { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val fmt = r.getString(2)
        // real JDK codecs for image + PCM-audio + MJPEG-AVI formats,
        // real container metadata for ISO-BMFF (mp4/mov) and EBML
        // (mkv/webm) — dimensions, duration, track tallies; frame
        // decode stays stubbed, the codecs are not in the JDK; corrupt
        // bytes degrade to the stub instead of failing the task; stub
        // for the rest (compressed audio)
        val fmtL = if (fmt == null) "" else fmt.toLowerCase
        val (w, h, checksum, feats) =
          (if (ImageFormats.contains(fmtL)) decodeImage(bytes)
           else if (AudioFormats.contains(fmtL)) decodeAudio(bytes)
           else if (VideoFormats.contains(fmtL)) decodeAviMjpeg(bytes)
           else if (Mp4Formats.contains(fmtL)) decodeMp4Meta(bytes)
           else if (MkvFormats.contains(fmtL)) decodeMkvMeta(bytes)
           else None)
            .getOrElse(decodeStub(bytes))
        Row(id, fmt, bytes.length.toLong, w, h, checksum, feats.toSeq)
      }
    }(enc)
  }

  /** Perceptual average-hash (aHash) of a decodable image: box-filter
    * the luminance raster onto an 8×8 grid, set bit (cy·8+cx) when the
    * cell's mean luminance strictly exceeds the global mean. Identical
    * rasters hash identically regardless of container (PNG vs BMP of
    * the same pixels); recompression and small edits land within a few
    * Hamming bits — the image analog of text SimHash, feeding the same
    * banded near-dup machinery. Cell/global means compare by integer
    * cross-multiplication carried in doubles (sums are exact integers
    * below 2^53, i.e. up to ~5.9-megapixel rasters; beyond that the
    * comparison is last-ulp fuzzy, which a 64-bit perceptual hash
    * tolerates). None when the bytes don't decode. */
  def averageHash(bytes: Array[Byte]): Option[Long] = {
    if (bytes.isEmpty) return None
    try {
      val img = javax.imageio.ImageIO.read(new java.io.ByteArrayInputStream(bytes))
      if (img == null) return None
      val w = img.getWidth
      val h = img.getHeight
      val sums = new Array[Double](64)
      val counts = new Array[Double](64)
      var total = 0.0
      var y = 0
      while (y < h) {
        val cy = y * 8 / h
        var x = 0
        while (x < w) {
          val rgb = img.getRGB(x, y)
          val lum = (((rgb >> 16) & 0xff) * 299 + ((rgb >> 8) & 0xff) * 587 +
            (rgb & 0xff) * 114) / 1000
          val c = cy * 8 + x * 8 / w
          sums(c) += lum
          counts(c) += 1
          total += lum
          x += 1
        }
        y += 1
      }
      val n = w.toDouble * h
      var hash = 0L
      var c = 0
      while (c < 64) {
        // cellMean > globalMean  ⇔  cellSum·n > total·cellCount
        if (counts(c) > 0 && sums(c) * n > total * counts(c))
          hash |= 1L << c
        c += 1
      }
      Some(hash)
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** Perceptual energy-envelope hash of a decodable PCM clip — the
    * audio analog of [[averageHash]]: the first channel's samples split
    * into 64 equal segments; bit s is set when segment s's mean SQUARED
    * amplitude strictly exceeds the clip's mean (comparing mean squares
    * avoids the sqrt — the RMS ordering is identical). Container- and
    * endianness-invariant for the same samples; re-leveling and small
    * noise move few bits; different material moves many. None when the
    * bytes aren't JDK-decodable PCM. */
  def audioHash(bytes: Array[Byte], maxFrames: Int = 1 << 20): Option[Long] = {
    if (bytes.isEmpty) return None
    try {
      val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
        new java.io.ByteArrayInputStream(bytes))
      try {
        val fmt = in.getFormat
        val bits = fmt.getSampleSizeInBits
        if (bits != 16 && bits != 8) return None
        val frameBytes = fmt.getFrameSize
        val nFrames = math.min(
          if (in.getFrameLength >= 0) in.getFrameLength else maxFrames.toLong,
          maxFrames.toLong).toInt
        val buf = new Array[Byte](nFrames * frameBytes)
        var off = 0
        var read = 0
        while (off < buf.length && read >= 0) {
          read = in.read(buf, off, buf.length - off)
          if (read > 0) off += read
        }
        val frames = off / frameBytes
        if (frames < 64) return None // under one frame per segment
        val bigEndian = fmt.isBigEndian
        val sums = new Array[Double](64)
        val counts = new Array[Double](64)
        var total = 0.0
        var f = 0
        while (f < frames) {
          val base = f * frameBytes
          val s =
            if (bits == 16) {
              val (b0, b1) = (buf(base) & 0xff, buf(base + 1) & 0xff)
              val raw = if (bigEndian) (b0 << 8) | b1 else (b1 << 8) | b0
              raw.toShort.toDouble / 32768.0
            } else (buf(base) & 0xff) / 255.0 * 2.0 - 1.0
          val seg = (f.toLong * 64 / frames).toInt
          val e = s * s
          sums(seg) += e
          counts(seg) += 1
          total += e
          f += 1
        }
        val n = frames.toDouble
        var hash = 0L
        var seg = 0
        while (seg < 64) {
          if (counts(seg) > 0 && sums(seg) * n > total * counts(seg))
            hash |= 1L << seg
          seg += 1
        }
        Some(hash)
      } finally in.close()
    } catch { case scala.util.control.NonFatal(_) => None }
  }

  /** (media_id, sh) energy-envelope hashes over decodable PCM rows —
    * feeds the same banded Hamming kernel as the image path. */
  def audioHashes(media: DataFrame): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sh", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    media.select("media_id", "bytes", "format").mapPartitions { it =>
      it.flatMap { r =>
        val fmtL = Option(r.getString(2)).map(_.toLowerCase).getOrElse("")
        if (!AudioFormats.contains(fmtL)) Iterator.empty
        else audioHash(Option(r.getAs[Array[Byte]](1))
            .getOrElse(Array.emptyByteArray))
          .map(hsh => Row(r.getLong(0), hsh)).iterator
      }
    }(enc)
  }

  /** Audio near-duplicate pairs through the shared banded kernel. */
  def nearDupAudioPairs(media: DataFrame, maxHd: Int = 6): DataFrame =
    SimHashDedup.pairsFromSignatures(
      audioHashes(media).materialize(), bits = 64, maxHd = maxHd)

  /** (media_id, sh) perceptual-hash frame over the decodable image rows
    * (non-images and corrupt bytes drop out — near-dup over a stub hash
    * would manufacture false pairs). Same bytes-budget partitioning as
    * [[extractFeatures]]. */
  def imageHashes(media: DataFrame,
      targetBytesPerPartition: Long = 128L * 1024 * 1024): DataFrame = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType, nullable = false),
      StructField("sh", LongType, nullable = false)))
    val enc = RowEncoder.encoderFor(schema)
    byBytesBudget(media, targetBytesPerPartition)
      .select("media_id", "bytes", "format").mapPartitions { it =>
        it.flatMap { r =>
          val fmtL = Option(r.getString(2)).map(_.toLowerCase).getOrElse("")
          if (!ImageFormats.contains(fmtL)) Iterator.empty
          else averageHash(Option(r.getAs[Array[Byte]](1))
              .getOrElse(Array.emptyByteArray))
            .map(hsh => Row(r.getLong(0), hsh)).iterator
        }
      }(enc)
  }

  /** Image near-duplicate pairs: aHash signatures through the SHARED
    * banded Hamming kernel ([[SimHashDedup.pairsFromSignatures]], 64-bit
    * width) — pigeonhole-exact for hd ≤ maxHd, equi-join shuffle only
    * (never an all-pairs compare). The 100 TB image-dedup shape: hash
    * per item (embarrassingly parallel over the bytes), band join, bit
    * verify. */
  def nearDupImagePairs(media: DataFrame, maxHd: Int = 6): DataFrame =
    SimHashDedup.pairsFromSignatures(
      imageHashes(media).materialize(), bits = 64, maxHd = maxHd)

  /** Frame-sampling pipeline: one row per sampled frame. MJPEG-AVI rows
    * emit REAL evenly-spaced JPEG frame payloads (each independently
    * decodable downstream); other formats emit the labeled stub slices. */
  def sampleFrames(media: DataFrame, framesPerItem: Int): DataFrame = {
    val schema = StructType(Seq(
      StructField("media_id", LongType, nullable = false),
      StructField("frame_idx", IntegerType, nullable = false),
      StructField("frame_bytes", BinaryType)))
    val enc = RowEncoder.encoderFor(schema)
    media.select("media_id", "bytes", "format").mapPartitions { it =>
      it.flatMap { r =>
        val id = r.getLong(0)
        val bytes = Option(r.getAs[Array[Byte]](1)).getOrElse(Array.emptyByteArray)
        val fmtL = Option(r.getString(2)).map(_.toLowerCase).getOrElse("")
        val frames =
          (if (VideoFormats.contains(fmtL)) frameSampleAvi(bytes, framesPerItem)
           else None)
            .getOrElse(frameSampleStub(bytes, framesPerItem))
        frames.zipWithIndex.map { case (b, i) => Row(id, i, b) }
      }
    }(enc)
  }
}
