package graft.operators

import java.awt.image.BufferedImage
import java.io.{ByteArrayInputStream, ByteArrayOutputStream}
import javax.imageio.ImageIO

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** REAL video arm of the multimodal layer (round 13): the "no JDK video
  * codec" stub premise is PARTIALLY refutable — container METADATA and
  * MJPEG frame decode need nothing beyond what this JDK ships.
  *
  *   - The AVI container is RIFF, a public byte-level spec: parsing the
  *     header (dims, frame count, frame rate, stream handler) is plain
  *     binary walking, no codec involved. [[parseMeta]] is that walker;
  *     [[encodeAvi]] is the matching writer the fixture uses.
  *   - MJPEG ("MJPG" handler) stores each frame as an ordinary JPEG in
  *     a '00dc' movi chunk — and ImageIO is a real JPEG codec. So
  *     [[frameTable]]/[[sampleFrames]] do REAL video frame decode:
  *     split the movi list, hand each chunk to the JDK's JPEG reader.
  *
  * What stays honestly stubbed (in [[Multimodal]]): inter-frame codecs
  * (H.264/VP9/AV1...) — nothing in this JDK decodes them, re-verified
  * each round. Honesty note on certification strength: for images and
  * audio the ENCODER and DECODER are both the JDK's, so the oracle
  * certifies a third-party codec round trip; here the container
  * writer/parser pair is ours on both sides (the JPEG frame codec is
  * still the JDK's). The operator therefore cross-checks every layer
  * against the others — avih dims vs strf dims vs DECODED JPEG dims,
  * avih totalFrames vs strh length vs the actual movi chunk count —
  * and fails LOUD on any disagreement, so a hash match certifies the
  * full chain's mutual consistency plus the JPEG decode tolerance
  * bound (JPEG is lossy; pixel stats ride the self-validating `ok`
  * bound, the a5_approx_uv pattern — the frame MEAN is carried by
  * JPEG's DC coefficient, measured max deviation 0.504 gray levels
  * across 3 SFs, gated at < 1). The [[synthesizeRaw]] 'DIB ' arm has
  * NO codec at all (raw BI_RGB frames) and its stats are hash-exact.
  *
  * Scale: synthesis/decode are map-side per video (one row in, one
  * video's frames out — [[frameTable]] is a flatMap); no shuffle
  * anywhere. Frame sampling decodes ONLY the sampled frames (the
  * parser slices chunk bytes without touching the JPEG payloads),
  * which is the property a 100 TB frame-sampling pass lives on.
  */
object Video {

  private lazy val init: Unit = {
    System.setProperty("java.awt.headless", "true")
    ImageIO.setUseCache(false)
  }

  // ---- fixture ----------------------------------------------------------

  /** Deterministic per-doc MJPEG/AVI fixture parameters — pure integer
    * arithmetic over doc_id, reproducible in SQL: group g = doc_id %
    * 200 picks dims, frame count and fps (all small — frames are real
    * JPEG encodes). */
  private[graft] def synthParams(docId: Long): (Int, Int, Int, Int) = {
    val g = docId % 200
    val w = (16 * (1 + (g % 4))).toInt
    val h = (16 * (1 + ((g / 4) % 3))).toInt
    val nFrames = (2 + (g % 5)).toInt
    val fps = ((g / 12) % 5) match {
      case 0 => 10; case 1 => 15; case 2 => 24; case 3 => 25; case _ => 30
    }
    (w, h, nFrames, fps)
  }

  /** Grayscale frame pixels — the image-arm multiplicative mix with the
    * frame index folded in nonlinearly, so frames differ within a clip
    * and clips differ across groups. All terms positive (Java % == SQL
    * %). */
  private[graft] def synthFramePixels(docId: Long, frame: Int): Array[Int] = {
    val g = docId % 200
    val (w, h, _, _) = synthParams(docId)
    val px = new Array[Int](w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        px(y * w + x) = ((x * 2654435761L + y * 40503L +
          (x + 3L) * (y + 7L) * (g + 13L) + frame * 7919L * (x + y + 1L) +
          g * 2246822519L) % 256L).toInt
        x += 1
      }
      y += 1
    }
    px
  }

  /** Exact integer luminance sum of a formula frame — the engine-side
    * twin of the oracle's per-pixel recomputation, used for the
    * self-validating JPEG tolerance bound. */
  private[graft] def synthFrameSum(docId: Long, frame: Int): Long = {
    val px = synthFramePixels(docId, frame)
    var s = 0L
    var i = 0
    while (i < px.length) { s += px(i); i += 1 }
    s
  }

  private def jpegEncode(w: Int, h: Int, px: Array[Int]): Array[Byte] = {
    init
    val img = new BufferedImage(w, h, BufferedImage.TYPE_INT_RGB)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val p = px(y * w + x)
        img.setRGB(x, y, (p << 16) | (p << 8) | p)
        x += 1
      }
      y += 1
    }
    val bos = new ByteArrayOutputStream()
    require(ImageIO.write(img, "jpg", bos), "no JPEG writer")
    bos.toByteArray
  }

  // ---- RIFF/AVI writer --------------------------------------------------

  private def u32(b: ByteArrayOutputStream, v: Long): Unit = {
    b.write((v & 0xff).toInt); b.write(((v >> 8) & 0xff).toInt)
    b.write(((v >> 16) & 0xff).toInt); b.write(((v >> 24) & 0xff).toInt)
  }
  private def u16(b: ByteArrayOutputStream, v: Int): Unit = {
    b.write(v & 0xff); b.write((v >> 8) & 0xff)
  }
  private def fcc(b: ByteArrayOutputStream, s: String): Unit = {
    require(s.length == 4); var i = 0
    while (i < 4) { b.write(s.charAt(i).toInt & 0xff); i += 1 }
  }

  /** Assemble an MJPEG AVI from pre-encoded JPEG frames — the standard
    * RIFF layout (avih + one 'vids'/'MJPG' stream + movi '00dc'
    * chunks, 2-byte chunk alignment). usPerFrame = 1,000,000 / fps
    * (integer division — the oracle reproduces it). */
  private[graft] def encodeAvi(w: Int, h: Int, fps: Int,
      frames: Seq[Array[Byte]],
      audio: Option[(Int, Array[Int])] = None,
      subtitles: Option[Seq[String]] = None): Array[Byte] =
    assembleAvi(w, h, fps, "MJPG", mjpgCompression = true,
      frames, chunkId = "00dc", audio = audio, subtitles = subtitles)

  /** Row stride of a 24-bit DIB scanline: 3 bytes per pixel, each row
    * padded to a 4-byte boundary (the BMP/DIB convention). */
  private[graft] def dibStride(w: Int): Int = ((w * 3 + 3) / 4) * 4

  /** Assemble an UNCOMPRESSED (BI_RGB 'DIB ') AVI from raw grayscale
    * frames: each '00db' chunk is the standard bottom-up 24-bit BGR
    * bitmap (rows padded to 4 bytes). No codec anywhere in this arm —
    * decode is exact byte reading, so frame stats are formula-exact
    * and the catalog entry hash-gates them (unlike the lossy MJPEG
    * arm, whose stats ride the measured-tolerance bound). */
  private[graft] def encodeAviRaw(w: Int, h: Int, fps: Int,
      frames: Seq[Array[Int]]): Array[Byte] = {
    val stride = dibStride(w)
    val encoded = frames.map { px =>
      require(px.length == w * h, s"frame has ${px.length} px, want ${w * h}")
      val bytes = new Array[Byte](stride * h)
      var y = 0
      while (y < h) {
        val dstRow = (h - 1 - y) * stride // bottom-up row order
        var x = 0
        while (x < w) {
          val p = px(y * w + x).toByte // grayscale: B = G = R
          val o = dstRow + x * 3
          bytes(o) = p; bytes(o + 1) = p; bytes(o + 2) = p
          x += 1
        }
        y += 1
      }
      bytes
    }
    assembleAvi(w, h, fps, "DIB ", mjpgCompression = false,
      encoded, chunkId = "00db")
  }

  private def assembleAvi(w: Int, h: Int, fps: Int, handler: String,
      mjpgCompression: Boolean, frames: Seq[Array[Byte]],
      chunkId: String, audio: Option[(Int, Array[Int])] = None,
      subtitles: Option[Seq[String]] = None): Array[Byte] = {
    require(fps > 0 && frames.nonEmpty)
    subtitles.foreach(ss => require(ss.size == frames.size,
      s"one caption per frame: ${ss.size} captions, ${frames.size} frames"))
    val maxFrame = frames.map(_.length).max
    // the audio track (16-bit LE PCM mono), split into one '01wb' chunk
    // per video frame — the standard interleaved layout
    val audioChunks: Seq[Array[Byte]] = audio match {
      case None => Seq.empty
      case Some((_, samples)) =>
        val n = frames.size
        val base = samples.length / n
        val extra = samples.length % n
        var off = 0
        (0 until n).map { i =>
          val take = base + (if (i < extra) 1 else 0)
          val b = new Array[Byte](take * 2)
          var j = 0
          while (j < take) {
            val s = samples(off + j)
            b(j * 2) = (s & 0xff).toByte
            b(j * 2 + 1) = ((s >> 8) & 0xff).toByte
            j += 1
          }
          off += take
          b
        }
    }
    // movi body
    val movi = new ByteArrayOutputStream()
    fcc(movi, "movi")
    frames.zipWithIndex.foreach { case (f, i) =>
      fcc(movi, chunkId); u32(movi, f.length.toLong)
      movi.write(f, 0, f.length)
      if (f.length % 2 == 1) movi.write(0) // RIFF chunks align to 2 bytes
      if (audioChunks.nonEmpty && audioChunks(i).length > 0) {
        val a = audioChunks(i)
        fcc(movi, "01wb"); u32(movi, a.length.toLong)
        movi.write(a, 0, a.length) // 16-bit samples: always even length
      }
      subtitles.foreach { ss =>
        val t = ss(i).getBytes(java.nio.charset.StandardCharsets.UTF_8)
        val sid = if (audio.isDefined) "02tx" else "01tx"
        fcc(movi, sid); u32(movi, t.length.toLong)
        movi.write(t, 0, t.length)
        if (t.length % 2 == 1) movi.write(0)
      }
    }
    val hdrl = new ByteArrayOutputStream()
    fcc(hdrl, "hdrl")
    // avih (56 bytes)
    fcc(hdrl, "avih"); u32(hdrl, 56)
    u32(hdrl, 1000000L / fps) // dwMicroSecPerFrame
    u32(hdrl, 0); u32(hdrl, 0); u32(hdrl, 0) // maxBytesPerSec, padding, flags
    u32(hdrl, frames.size.toLong) // dwTotalFrames
    val nStreams = 1L + (if (audio.isDefined) 1L else 0L) +
      (if (subtitles.isDefined) 1L else 0L)
    u32(hdrl, 0); u32(hdrl, nStreams) // initialFrames, dwStreams
    u32(hdrl, maxFrame.toLong) // suggestedBufferSize
    u32(hdrl, w.toLong); u32(hdrl, h.toLong)
    u32(hdrl, 0); u32(hdrl, 0); u32(hdrl, 0); u32(hdrl, 0) // reserved
    // strl list: strh (56) + strf (40, BITMAPINFOHEADER)
    val strl = new ByteArrayOutputStream()
    fcc(strl, "strl")
    fcc(strl, "strh"); u32(strl, 56)
    fcc(strl, "vids"); fcc(strl, handler)
    u32(strl, 0); u16(strl, 0); u16(strl, 0) // flags, priority, language
    u32(strl, 0) // initialFrames
    u32(strl, 1); u32(strl, fps.toLong) // dwScale, dwRate -> fps = rate/scale
    u32(strl, 0) // start
    u32(strl, frames.size.toLong) // dwLength (in frames)
    u32(strl, maxFrame.toLong); u32(strl, 10000L) // bufSize, quality
    u32(strl, 0) // sampleSize
    u16(strl, 0); u16(strl, 0); u16(strl, w); u16(strl, h) // rcFrame
    fcc(strl, "strf"); u32(strl, 40)
    u32(strl, 40); u32(strl, w.toLong); u32(strl, h.toLong)
    u16(strl, 1); u16(strl, 24) // planes, bitCount
    if (mjpgCompression) fcc(strl, "MJPG") // biCompression
    else u32(strl, 0) // BI_RGB — uncompressed
    u32(strl, (w.toLong * h * 3)); u32(strl, 0); u32(strl, 0)
    u32(strl, 0); u32(strl, 0)
    val strlBytes = strl.toByteArray
    fcc(hdrl, "LIST"); u32(hdrl, strlBytes.length.toLong)
    hdrl.write(strlBytes, 0, strlBytes.length)
    audio.foreach { case (rate, samples) =>
      // second strl: 'auds' strh (56) + WAVEFORMATEX strf (18)
      val astrl = new ByteArrayOutputStream()
      fcc(astrl, "strl")
      fcc(astrl, "strh"); u32(astrl, 56)
      fcc(astrl, "auds"); u32(astrl, 0) // handler: 0 for PCM
      u32(astrl, 0); u16(astrl, 0); u16(astrl, 0) // flags, priority, language
      u32(astrl, 0) // initialFrames
      u32(astrl, 1); u32(astrl, rate.toLong) // dwScale, dwRate -> samples/sec
      u32(astrl, 0) // start
      u32(astrl, samples.length.toLong) // dwLength (in samples)
      u32(astrl, samples.length.toLong * 2); u32(astrl, 0xffffffffL) // bufSize, quality(-1)
      u32(astrl, 2) // sampleSize = nBlockAlign
      u16(astrl, 0); u16(astrl, 0); u16(astrl, 0); u16(astrl, 0) // rcFrame
      fcc(astrl, "strf"); u32(astrl, 18)
      u16(astrl, 1); u16(astrl, 1) // wFormatTag = PCM, nChannels = 1
      u32(astrl, rate.toLong); u32(astrl, rate.toLong * 2) // nSamplesPerSec, nAvgBytesPerSec
      u16(astrl, 2); u16(astrl, 16); u16(astrl, 0) // nBlockAlign, wBitsPerSample, cbSize
      val astrlBytes = astrl.toByteArray
      fcc(hdrl, "LIST"); u32(hdrl, astrlBytes.length.toLong)
      hdrl.write(astrlBytes, 0, astrlBytes.length)
    }
    subtitles.foreach { ss =>
      // text strl: 'txts' strh (56) + minimal strf (4 zero bytes) — one
      // caption chunk per video frame, UTF-8
      val tstrl = new ByteArrayOutputStream()
      fcc(tstrl, "strl")
      fcc(tstrl, "strh"); u32(tstrl, 56)
      fcc(tstrl, "txts"); u32(tstrl, 0) // handler: none
      u32(tstrl, 0); u16(tstrl, 0); u16(tstrl, 0) // flags, priority, language
      u32(tstrl, 0) // initialFrames
      u32(tstrl, 1); u32(tstrl, fps.toLong) // dwScale, dwRate -> captions/sec
      u32(tstrl, 0) // start
      u32(tstrl, ss.size.toLong) // dwLength (in captions)
      u32(tstrl, ss.map(_.getBytes(java.nio.charset.StandardCharsets.UTF_8)
        .length).max.toLong); u32(tstrl, 0xffffffffL) // bufSize, quality(-1)
      u32(tstrl, 0) // sampleSize (variable)
      u16(tstrl, 0); u16(tstrl, 0); u16(tstrl, 0); u16(tstrl, 0) // rcFrame
      fcc(tstrl, "strf"); u32(tstrl, 4)
      u32(tstrl, 0)
      val tstrlBytes = tstrl.toByteArray
      fcc(hdrl, "LIST"); u32(hdrl, tstrlBytes.length.toLong)
      hdrl.write(tstrlBytes, 0, tstrlBytes.length)
    }

    val hdrlBytes = hdrl.toByteArray
    val moviBytes = movi.toByteArray
    val body = new ByteArrayOutputStream()
    fcc(body, "AVI ")
    fcc(body, "LIST"); u32(body, hdrlBytes.length.toLong)
    body.write(hdrlBytes, 0, hdrlBytes.length)
    fcc(body, "LIST"); u32(body, moviBytes.length.toLong)
    body.write(moviBytes, 0, moviBytes.length)
    val bodyBytes = body.toByteArray
    val out = new ByteArrayOutputStream()
    fcc(out, "RIFF"); u32(out, bodyBytes.length.toLong)
    out.write(bodyBytes, 0, bodyBytes.length)
    out.toByteArray
  }

  // ---- RIFF/AVI parser --------------------------------------------------

  /** Parsed container metadata (header only — no frame payload copied,
    * no JPEG touched) plus the [offset, length) of each movi frame
    * chunk so frame access is a byte slice. Stream-1 PCM audio track
    * fields default to "absent" (-1 / empty): the parser RECORDS
    * whatever second stream it finds and tolerates unsupported ones;
    * [[extractAudioTrack]] validates loudly on use. */
  private[graft] final case class AviMeta(
      width: Int, height: Int, usPerFrame: Long, totalFrames: Long,
      scale: Long, rate: Long, handler: String, streams: Long,
      frameOffsets: Vector[(Int, Int)],
      audioChunks: Vector[(Int, Int)] = Vector.empty,
      audioRate: Long = -1, audioChannels: Int = -1, audioBits: Int = -1,
      audioTag: Int = -1, audioLenSamples: Long = -1,
      subtitleChunks: Vector[(Int, Int)] = Vector.empty)

  private def rdU32(b: Array[Byte], o: Int): Long =
    ((b(o) & 0xffL)) | ((b(o + 1) & 0xffL) << 8) |
      ((b(o + 2) & 0xffL) << 16) | ((b(o + 3) & 0xffL) << 24)
  private def rdU16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def rdFcc(b: Array[Byte], o: Int): String =
    new String(Array(b(o), b(o + 1), b(o + 2), b(o + 3)), "US-ASCII")

  private def fail(msg: String): Nothing =
    throw new IllegalArgumentException(s"not an MJPEG AVI: $msg")

  /** Walk the RIFF tree: validate magic, read avih/strh/strf, index the
    * movi '00dc'/'00db' chunks. Every layer is cross-checked against
    * the others — a disagreement is corruption and fails LOUD.
    *
    * Robustness contract (the walker sees untrusted scrape bytes):
    * chunk lengths are u32 and stay Long end to end — truncating to
    * Int would let a >2 GiB declared length go negative, slip past the
    * overrun check, and stall the cursor in an infinite loop. Every
    * chunk's [payload, payload+len) is bounds-checked against its
    * parent BEFORE the cursor advances, in the outer walk AND the movi
    * loop, so corrupt bytes always fail loud in bounded time. Only the
    * FIRST stream header is validated/recorded: stream 0 must be the
    * MJPEG video stream, but extra streams (an 'auds' audio track is
    * standard in real-world AVIs) are walked past — the movi indexer
    * only consumes stream-0 '00dc'/'00db' chunks anyway. */
  private[graft] def parseMeta(bytes: Array[Byte]): AviMeta = {
    if (bytes.length < 12 || rdFcc(bytes, 0) != "RIFF") fail("missing RIFF magic")
    val riffLen = rdU32(bytes, 4)
    if (riffLen + 8L > bytes.length) fail(s"RIFF size $riffLen overruns buffer")
    if (rdFcc(bytes, 8) != "AVI ") fail("RIFF form is not 'AVI '")
    var w = -1; var h = -1; var us = -1L; var total = -1L
    var scale = -1L; var rate = -1L; var handler = ""; var streams = -1L
    var strhLen = -1L; var strfW = -1L; var strfH = -1L
    var strhCount = 0; var strfCount = 0; var lastStrhType = ""
    var audRate = -1L; var audLen = -1L
    var audTag = -1; var audChannels = -1; var audBits = -1
    var audStrfDone = false
    val frames = Vector.newBuilder[(Int, Int)]
    val audioChunks = Vector.newBuilder[(Int, Int)]
    val subChunks = Vector.newBuilder[(Int, Int)]
    def walk(from: Long, to: Long): Unit = {
      var o = from
      while (o + 8 <= to) {
        val id = rdFcc(bytes, o.toInt)
        val len = rdU32(bytes, o.toInt + 4) // u32 as Long — NEVER truncate
        val payload = o + 8
        if (payload + len > to) fail(s"chunk $id overruns its parent list")
        id match {
          case "LIST" =>
            if (len < 4) fail("LIST chunk shorter than its type tag")
            val listType = rdFcc(bytes, payload.toInt)
            if (listType == "hdrl" || listType == "strl" || listType == "movi") {
              if (listType == "movi") {
                var m = payload + 4
                while (m + 8 <= payload + len) {
                  val cid = rdFcc(bytes, m.toInt)
                  val clen = rdU32(bytes, m.toInt + 4)
                  if (m + 8 + clen > payload + len)
                    fail(s"movi chunk $cid overruns the movi list")
                  // classify by the two-char type suffix: dc/db = video
                  // (stream 0 only), wb = PCM audio, tx = text — stream
                  // numbers vary with track layout, the suffix does not
                  if (cid == "00dc" || cid == "00db")
                    frames += ((m.toInt + 8, clen.toInt))
                  else if (cid.endsWith("wb"))
                    audioChunks += ((m.toInt + 8, clen.toInt))
                  else if (cid.endsWith("tx"))
                    subChunks += ((m.toInt + 8, clen.toInt))
                  m += 8 + clen + (clen % 2)
                }
              } else walk(payload + 4, payload + len)
            }
          case "avih" =>
            if (len < 40) fail("avih chunk shorter than its fixed header")
            us = rdU32(bytes, payload.toInt)
            total = rdU32(bytes, payload.toInt + 16)
            streams = rdU32(bytes, payload.toInt + 24)
            w = rdU32(bytes, payload.toInt + 32).toInt
            h = rdU32(bytes, payload.toInt + 36).toInt
          case "strh" =>
            strhCount += 1
            if (len < 36) fail("strh chunk shorter than its fixed header")
            lastStrhType = rdFcc(bytes, payload.toInt)
            if (strhCount == 1) {
              if (lastStrhType != "vids") fail("stream 0 is not video")
              handler = rdFcc(bytes, payload.toInt + 4)
                .toLowerCase(java.util.Locale.ROOT)
              scale = rdU32(bytes, payload.toInt + 20)
              rate = rdU32(bytes, payload.toInt + 24)
              strhLen = rdU32(bytes, payload.toInt + 32)
            } else if (lastStrhType == "auds" && audRate < 0) {
              val aScale = rdU32(bytes, payload.toInt + 20)
              audRate = rdU32(bytes, payload.toInt + 24) / math.max(aScale, 1)
              audLen = rdU32(bytes, payload.toInt + 32)
            } // txts / other extra streams need no strh fields: text
              // chunks are self-delimited and indexed by suffix
          case "strf" =>
            strfCount += 1
            if (strfCount == 1) {
              if (len < 12) fail("strf chunk shorter than BITMAPINFOHEADER dims")
              strfW = rdU32(bytes, payload.toInt + 4)
              strfH = rdU32(bytes, payload.toInt + 8)
            } else if (lastStrhType == "auds" && !audStrfDone && len >= 16) {
              audStrfDone = true
              // WAVEFORMAT(EX): tag, channels, rate, avgBytes, align, bits
              audTag = rdU16(bytes, payload.toInt)
              audChannels = rdU16(bytes, payload.toInt + 2)
              val sfRate = rdU32(bytes, payload.toInt + 4)
              audBits = rdU16(bytes, payload.toInt + 14)
              if (audTag == 1 && audRate >= 0 && sfRate != audRate) fail(
                s"auds strf rate $sfRate disagrees with strh rate $audRate")
            }
          case _ => // unknown chunks + extra streams skip (idx1, JUNK, ...)
        }
        o = payload + len + (len % 2)
      }
    }
    walk(12L, riffLen + 8L)
    val fr = frames.result()
    if (w <= 0 || h <= 0 || us <= 0 || total < 0) fail("missing/invalid avih")
    if (handler != "mjpg" && handler != "dib ")
      fail(s"stream handler '$handler' is neither MJPG nor uncompressed DIB " +
        "(inter-frame codecs are honestly stubbed — no JDK decoder)")
    if (strfW != w || strfH != h) fail(
      s"strf dims ${strfW}x$strfH disagree with avih ${w}x$h")
    if (strhLen != total || fr.size.toLong != total) fail(
      s"frame counts disagree: avih=$total strh=$strhLen movi=${fr.size}")
    AviMeta(w, h, us, total, scale, rate, handler, streams, fr,
      audioChunks = audioChunks.result(), audioRate = audRate,
      audioChannels = audChannels, audioBits = audBits, audioTag = audTag,
      audioLenSamples = audLen, subtitleChunks = subChunks.result())
  }

  /** Decode one indexed frame to grayscale. MJPEG: the byte slice is
    * handed to the JDK JPEG reader, decoded dims cross-checked against
    * the container's. DIB: exact byte reading of the bottom-up 24-bit
    * BGR bitmap (chunk length cross-checked against stride·height) —
    * no codec, so the result is bit-exact against the source pixels. */
  private[graft] def decodeFrame(bytes: Array[Byte], meta: AviMeta,
      idx: Int): Array[Int] = {
    val (off, len) = meta.frameOffsets(idx)
    if (meta.handler == "dib ") {
      val stride = dibStride(meta.width)
      if (len != stride * meta.height) fail(
        s"frame $idx DIB chunk is $len bytes != stride $stride x ${meta.height}")
      val gray = new Array[Int](meta.width * meta.height)
      var y = 0
      while (y < meta.height) {
        val srcRow = off + (meta.height - 1 - y) * stride // bottom-up
        var x = 0
        while (x < meta.width) {
          val o = srcRow + x * 3
          gray(y * meta.width + x) = ((bytes(o) & 0xff) + (bytes(o + 1) & 0xff) +
            (bytes(o + 2) & 0xff)) / 3
          x += 1
        }
        y += 1
      }
      return gray
    }
    init
    val img = ImageIO.read(new ByteArrayInputStream(bytes, off, len))
    if (img == null) fail(s"frame $idx is not JPEG-decodable")
    if (img.getWidth != meta.width || img.getHeight != meta.height) fail(
      s"frame $idx decoded ${img.getWidth}x${img.getHeight} != container " +
        s"${meta.width}x${meta.height}")
    val rgbs = img.getRGB(0, 0, meta.width, meta.height, null, 0, meta.width)
    val gray = new Array[Int](rgbs.length)
    var i = 0
    while (i < rgbs.length) {
      val rgb = rgbs(i)
      gray(i) = (((rgb >> 16) & 0xff) + ((rgb >> 8) & 0xff) + (rgb & 0xff)) / 3
      i += 1
    }
    gray
  }

  // ---- operators --------------------------------------------------------

  /** The deterministic MJPEG/AVI fixture: (doc_id, video binary), one
    * real container with real JPEG frames per document. Map-side. */
  def synthesize(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    SkewOps.spreadScan(docs.select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        init
        ids.map { id =>
          val (w, h, n, fps) = synthParams(id)
          val frames = (0 until n).map(f => jpegEncode(w, h, synthFramePixels(id, f)))
          (id, encodeAvi(w, h, fps, frames))
        }
      }
      .toDF("doc_id", "video")
  }

  /** The UNCOMPRESSED twin of [[synthesize]]: the same deterministic
    * per-doc frames in a raw BI_RGB 'DIB ' AVI (bottom-up 24-bit BGR
    * '00db' chunks). No codec in the chain, so every decoded pixel is
    * formula-exact — the arm whose frame stats the catalog hash-gates
    * (t_video_frames_raw) instead of bound-gates. Map-side. */
  def synthesizeRaw(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    SkewOps.spreadScan(docs.select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h, n, fps) = synthParams(id)
          (id, encodeAviRaw(w, h, fps,
            (0 until n).map(f => synthFramePixels(id, f))))
        }
      }
      .toDF("doc_id", "video")
  }

  /** MULTIMODAL fixture: one MJPEG AVI per doc with an interleaved
    * 16-bit PCM mono audio track (stream 1, '01wb' chunks — the
    * standard two-stream layout real capture AVIs use). The video
    * frames are [[synthParams]]/[[synthFramePixels]]; the audio track
    * is the AUDIO ARM'S fixture ([[Audio.synthSamples]]), so a
    * demuxed track feeds the audio arm's oracle unchanged. */
  def synthesizeAV(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    SkewOps.spreadScan(docs.select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        init
        ids.map { id =>
          val (w, h, n, fps) = synthParams(id)
          val frames = (0 until n).map(f => jpegEncode(w, h, synthFramePixels(id, f)))
          val (rate, samples) = Audio.synthSamples(id)
          (id, encodeAvi(w, h, fps, frames, audio = Some((rate, samples))))
        }
      }
      .toDF("doc_id", "video")
  }

  /** The per-frame caption of the A/V/T fixture — deterministic and
    * trivially recomposable in SQL ('cap g=.. f=.. 字' — the CJK char
    * keeps the byte length odd-capable, exercising chunk padding). */
  private[graft] def synthCaption(docId: Long, frame: Int): String =
    s"cap g=${docId % 200} f=$frame 字"

  /** THREE-stream fixture: [[synthesizeAV]] plus a 'txts' subtitle
    * track (one UTF-8 caption chunk per frame — the transcript shape a
    * multimodal corpus demuxes into its text pipeline). */
  def synthesizeAVT(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    SkewOps.spreadScan(docs.select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        init
        ids.map { id =>
          val (w, h, n, fps) = synthParams(id)
          val frames = (0 until n).map(f => jpegEncode(w, h, synthFramePixels(id, f)))
          val (rate, samples) = Audio.synthSamples(id)
          val caps = (0 until n).map(f => synthCaption(id, f))
          (id, encodeAvi(w, h, fps, frames, audio = Some((rate, samples)),
            subtitles = Some(caps)))
        }
      }
      .toDF("doc_id", "video")
  }

  /** SUBTITLE DEMUX — extract the text track as one row per caption
    * chunk (doc_id, frame_idx, text), UTF-8-decoded in container
    * order: the transcript-extraction pass that feeds a video corpus
    * into the TEXT pipeline (langId / quality / tokenize run on the
    * output unchanged). Fails loud when no text track exists.
    * Map-side, no shuffle. */
  def extractSubtitles(spark: SparkSession, binDf: DataFrame): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        val m = parseMeta(bytes)
        if (m.subtitleChunks.isEmpty) fail(s"doc $id has no text track")
        m.subtitleChunks.iterator.zipWithIndex.map { case ((off, len), i) =>
          (id, i, new String(bytes, off, len,
            java.nio.charset.StandardCharsets.UTF_8))
        }
      }
      .toDF("doc_id", "frame_idx", "text")
  }

  /** A/V DEMUX — extract the PCM audio track of a two-stream AVI as a
    * standalone WAVE clip: concatenate the '01wb' chunks in container
    * order (exact byte reading, 16-bit LE samples) and re-encode
    * through the audio arm's writer. Validation is LOUD on use (the
    * parser records any second stream; this operator refuses
    * non-PCM16-mono tracks and cross-checks the byte total against the
    * strh sample count). Output (doc_id, audio) — feeds
    * Audio.audioStats / the whole audio arm unchanged, which is the
    * point: a multimodal corpus demuxes once and reuses every
    * single-modality pass. Map-side, no shuffle. */
  def extractAudioTrack(spark: SparkSession, binDf: DataFrame): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val m = parseMeta(bytes)
          if (m.audioChunks.isEmpty) fail(s"doc $id has no audio track")
          if (m.audioTag != 1 || m.audioBits != 16 || m.audioChannels != 1) fail(
            s"doc $id audio track is not PCM16 mono: tag=${m.audioTag} " +
              s"bits=${m.audioBits} channels=${m.audioChannels}")
          // per-CHUNK even-length check: an odd chunk would otherwise
          // read one byte past its boundary (into the next chunk's
          // header) and die with a bare index error instead of naming
          // the doc and the defect
          m.audioChunks.foreach { case (off, len) =>
            if (len % 2 != 0) fail(
              s"doc $id audio chunk at offset $off has odd length $len " +
                "(16-bit PCM chunks must be even)")
          }
          val totalBytes = m.audioChunks.map(_._2.toLong).sum
          val nSamples = totalBytes / 2
          if (m.audioLenSamples >= 0 && nSamples != m.audioLenSamples) fail(
            s"doc $id audio sample counts disagree: strh=${m.audioLenSamples} " +
              s"movi=$nSamples")
          val samples = new Array[Int](nSamples.toInt)
          var j = 0
          m.audioChunks.foreach { case (off, len) =>
            var o = off
            while (o < off + len) {
              samples(j) = ((bytes(o) & 0xff) | (bytes(o + 1) << 8))
              o += 2; j += 1
            }
          }
          (id, Audio.encode(m.audioRate.toInt, samples,
            javax.sound.sampled.AudioFileFormat.Type.WAVE))
        }
      }
      .toDF("doc_id", "audio")
  }

  /** Shot parameters of the SCENE fixture: shot length (frames per
    * shot), shot count, and total frames — pure integer arithmetic
    * over doc_id like [[synthParams]], reproducible in SQL. */
  private[graft] def synthSceneParams(docId: Long): (Int, Int) = {
    val g = docId % 200
    val shotLen = (2 + (g % 3)).toInt
    val nShots = (2 + ((g / 3) % 3)).toInt
    (shotLen, nShots)
  }

  /** SHOT-structured fixture for scene detection: frames within a shot
    * are IDENTICAL (the pixel formula is fed the shot index, not the
    * frame index), shots differ — so consecutive-frame hashes are
    * equal inside a shot and far apart across a cut. Uncompressed
    * 'DIB ' container (no codec — the structure is bit-exact;
    * VideoSpec measures the cross-cut hamming floor before the
    * threshold is trusted). Dims/fps from [[synthParams]]. */
  def synthesizeScenes(spark: SparkSession, docs: DataFrame): DataFrame = {
    import spark.implicits._
    SkewOps.spreadScan(docs.select(col("doc_id")), "doc_id").as[Long]
      .mapPartitions { ids =>
        ids.map { id =>
          val (w, h, _, fps) = synthParams(id)
          val (shotLen, nShots) = synthSceneParams(id)
          val frames = (0 until shotLen * nShots)
            .map(f => synthFramePixels(id, f / shotLen))
          (id, encodeAviRaw(w, h, fps, frames))
        }
      }
      .toDF("doc_id", "video")
  }

  /** SCENE-CUT detection — the standard video curation pass that
    * segments a clip into shots for frame sampling / captioning:
    * decode frames in order, aHash each, and emit frame f as a cut
    * when hamming(hash(f−1), hash(f)) > maxHamming (f starts a new
    * shot; frame 0 is never a cut). Default 0: inside a shot
    * consecutive decoded frames are identical (equal hashes — exact on
    * the DIB arm, decoder-deterministic on MJPEG), across a real cut
    * the hashes are far apart (fixture floor measured in VideoSpec
    * before the default was trusted). A flatMap — one video in, cuts
    * out; no shuffle, the 100 TB shape. Output
    * (doc_id, frame_idx, hamming). */
  def sceneCuts(spark: SparkSession, binDf: DataFrame,
      maxHamming: Int = 0): DataFrame = {
    require(maxHamming >= 0, s"maxHamming must be >= 0, got $maxHamming")
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        init
        val m = parseMeta(bytes)
        var prev = 0L
        (0 until m.totalFrames.toInt).iterator.flatMap { f =>
          val h = Images.aHash64(decodeFrame(bytes, m, f), m.width, m.height)
          val d = if (f == 0) 0 else java.lang.Long.bitCount(prev ^ h)
          prev = h
          if (f > 0 && d > maxHamming) Some((id, f, d)) else None
        }
      }
      .toDF("doc_id", "frame_idx", "hamming")
  }

  /** Shot segmentation summary built on [[sceneCuts]]: one row per
    * shot (doc_id, shot_idx, start_frame, n_frames). Needs the frame
    * count per doc, so it parses headers once more — still map-side
    * per input; the cuts-to-shots fold is a per-doc groupBy (the only
    * shuffle, keyed on doc_id, tiny rows). */
  def shotTable(spark: SparkSession, binDf: DataFrame,
      maxHamming: Int = 0): DataFrame = {
    import spark.implicits._
    val counts = binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        rows.map { case (id, bytes) => (id, parseMeta(bytes).totalFrames) }
      }
      .toDF("doc_id", "n_frames")
    val cuts = sceneCuts(spark, binDf, maxHamming)
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_list(col("frame_idx"))).as("cuts"))
    counts.join(cuts, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_frames"),
        coalesce(col("cuts"), array().cast("array<int>")).as("cuts"))
      .as[(Long, Long, Seq[Int])]
      .flatMap { case (id, nFrames, cs) =>
        val starts = 0 +: cs
        starts.iterator.zipWithIndex.map { case (s, i) =>
          val end = if (i + 1 < starts.length) starts(i + 1) else nFrames.toInt
          (id, i, s, end - s)
        }
      }
      .toDF("doc_id", "shot_idx", "start_frame", "n_frames")
  }

  /** Container metadata over a binary video column — dims, frame count,
    * frame rate, handler, WITHOUT touching a single JPEG payload (the
    * cheap 100 TB metadata pass; the RIFF walk reads headers and chunk
    * sizes only). */
  def videoMeta(spark: SparkSession, binDf: DataFrame): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val m = parseMeta(bytes)
          (id, m.width, m.height, m.totalFrames, m.usPerFrame,
            m.rate / math.max(m.scale, 1), m.handler, m.streams,
            bytes.length.toLong)
        }
      }
      .toDF("doc_id", "width", "height", "n_frames", "us_per_frame",
        "fps", "format", "n_streams", "n_bytes")
  }

  /** REAL frame decode, one output row per frame: exact container
    * fields plus the decoded luminance sum. On the MJPEG arm JPEG is
    * lossy, so the sum itself is not oracle-exact — the catalog entry
    * joins it against a reference-stats frame and gates the
    * self-validating bound `ok` ⟺ |decoded mean − reference mean| < 1,
    * computed integer-exactly as |sum − expected| < 1·n_px (the
    * a5_approx_uv pattern; measured max 0.504, JpegBoundProbe). On the
    * 'DIB ' arm the decode is exact byte reading and the sums are
    * hash-exact (t_video_frames_raw). A flatMap — one video in,
    * n_frames rows out, no shuffle. */
  def frameTable(spark: SparkSession, binDf: DataFrame): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        init
        val m = parseMeta(bytes)
        (0 until m.totalFrames.toInt).iterator.map { f =>
          val gray = decodeFrame(bytes, m, f)
          var sum = 0L
          var i = 0
          while (i < gray.length) { sum += gray(i); i += 1 }
          (id, f, m.width, m.height, gray.length.toLong, sum)
        }
      }
      .toDF("doc_id", "frame_idx", "width", "height", "n_px", "sum_lum")
  }

  /** Keyframe perceptual hashes — the industry-standard cheap video
    * near-dup key: decode ONLY frame 0 of each video (one JPEG per
    * video regardless of length) and hash it with the image arm's
    * aHash64. Output (doc_id, khash) — feed the shared
    * [[Fingerprints]] machinery. NOTE on matching radius: JPEG decode
    * is deterministic, so byte-identical videos always produce EQUAL
    * hashes and hamming 0 is exact-duplicate detection with no codec
    * caveat; hamming > 0 additionally catches re-encoded/perturbed
    * keyframes but its distance structure inherits JPEG quantization
    * noise (engine-consistent, not formula-predictable — the catalog
    * entry therefore gates the hamming-0 form). */
  def keyframeHashes(spark: SparkSession, binDf: DataFrame): DataFrame = {
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          val m = parseMeta(bytes)
          require(m.totalFrames > 0, s"doc $id: zero-frame video")
          val gray = decodeFrame(bytes, m, 0)
          (id, Images.aHash64(gray, m.width, m.height))
        }
      }
      .toDF("doc_id", "khash")
  }

  /** Keeper selection over keyframe hashes (see [[keyframeHashes]]):
    * one row per video, keep ⟺ this doc is the min doc_id of its
    * ≤-maxHamming keyframe neighborhood. Default maxHamming = 0 —
    * exact keyframe duplicates, codec-caveat-free. */
  def nearDupKeepers(spark: SparkSession, binDf: DataFrame,
      maxHamming: Int = 0): DataFrame =
    Fingerprints.nearDupKeepers(keyframeHashes(spark, binDf), "khash", maxHamming)

  /** TIME-based frame sampling — one frame per `everyUs` microseconds
    * of presentation time (frame 0 always included): the mode a
    * vision-training corpus actually samples at ("1 frame per second"),
    * robust to mixed frame rates where a fixed stride is not. Frame f
    * is kept iff its pts bucket floor(f·usPerFrame / everyUs) is new —
    * pure integer arithmetic the oracle reproduces. Decodes ONLY the
    * sampled frames, like [[sampleFrames]]. */
  def sampleFramesEvery(spark: SparkSession, binDf: DataFrame,
      everyUs: Long): DataFrame = {
    require(everyUs > 0, s"everyUs must be positive, got $everyUs")
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        init
        val m = parseMeta(bytes)
        var lastBucket = -1L
        (0 until m.totalFrames.toInt).iterator.flatMap { f =>
          val bucket = f * m.usPerFrame / everyUs
          if (f == 0 || bucket != lastBucket) {
            lastBucket = bucket
            val gray = decodeFrame(bytes, m, f)
            var sum = 0L
            var i = 0
            while (i < gray.length) { sum += gray(i); i += 1 }
            Some((id, f, f * m.usPerFrame, m.width, m.height,
              gray.length.toLong, sum))
          } else None
        }
      }
      .toDF("doc_id", "frame_idx", "pts_us", "width", "height", "n_px", "sum_lum")
  }

  /** FRAME EXPORT — turn a video corpus into an IMAGE corpus: decode
    * every `stride`-th frame (frame 0 included) and re-encode it as a
    * standalone PNG, one row per exported frame (doc_id, frame_idx,
    * img). The output feeds the ENTIRE image arm unchanged
    * (imageStats / aHash dedup / curateImages) — the standard
    * vision-training flow where frames become the training images.
    * Unsampled payloads are never decoded. Map-side, no shuffle. */
  def exportFrames(spark: SparkSession, binDf: DataFrame,
      stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride")
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        init
        val m = parseMeta(bytes)
        (0 until m.totalFrames.toInt by stride).iterator.map { f =>
          val gray = decodeFrame(bytes, m, f)
          (id, f, Images.encodeImage(m.width, m.height, gray, "png"))
        }
      }
      .toDF("doc_id", "frame_idx", "img")
  }

  /** [[gatedProfile]]'s threshold check, also run when a
    * MediaCurate.VideoGates value is built. */
  private[graft] def requireGateThresholds(minPixels: Long, minFrames: Long,
      minFps: Long, maxFps: Long): Unit =
    require(minPixels > 0 && minFrames >= 1 && 0 < minFps && minFps <= maxFps,
      s"bad gate thresholds: minPixels=$minPixels minFrames=$minFrames " +
        s"fps=[$minFps,$maxFps]")

  /** Fused curation profile — the video arm's gate pass, ONE scan with
    * the cheapest-possible work per doc: the header-only RIFF walk
    * feeds the metadata gates (undersized / too_few_frames / bad_fps),
    * and the keyframe JPEG is decoded ONLY for gate SURVIVORS (the
    * gated docs' payloads are never read — on a 100 TB scrape where
    * gates drop a large fraction, that is the dominant saving; the
    * image/audio arms can't do this because their gates need pixels/
    * samples, the video gates don't). Unlike the loud-fail analysis
    * operators ([[videoMeta]]/[[frameTable]] — corruption there is a
    * pipeline bug), a CURATION pass sees untrusted scrape bytes, so an
    * unparseable container is LABELED `corrupt` and quarantined, never
    * thrown: one bad file must not kill a corpus-scale job.
    *
    * Output one row per doc: (doc_id, drop0, khash) where drop0 is the
    * first firing metadata gate (corrupt > undersized > too_few_frames
    * > bad_fps) or NULL for survivors, and khash is the keyframe aHash
    * for survivors only (NULL otherwise) — feed keeper election among
    * the drop0-null rows. Map-side, no shuffle. */
  def gatedProfile(spark: SparkSession, binDf: DataFrame, minPixels: Long,
      minFrames: Long, minFps: Long, maxFps: Long): DataFrame = {
    requireGateThresholds(minPixels, minFrames, minFps, maxFps)
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .mapPartitions { rows =>
        init
        rows.map { case (id, bytes) =>
          try {
            val m = parseMeta(bytes)
            val drop0 =
              if (m.width.toLong * m.height < minPixels) "undersized"
              else if (m.totalFrames < minFrames) "too_few_frames"
              else {
                val fps = m.rate / math.max(m.scale, 1)
                if (fps < minFps || fps > maxFps) "bad_fps" else null
              }
            if (drop0 == null)
              // minFrames >= 1 guarantees a frame 0 exists here
              (id, None: Option[String],
                Some(Images.aHash64(decodeFrame(bytes, m, 0), m.width, m.height)))
            else (id, Some(drop0), None: Option[Long])
          } catch {
            // parseMeta/decodeFrame fail loud on corrupt bytes — here
            // that verdict becomes a label, not a job death
            case scala.util.control.NonFatal(_) =>
              (id, Some("corrupt"), None: Option[Long])
          }
        }
      }
      .toDF("doc_id", "drop0", "khash")
  }

  /** VIDEO decontamination — drop training videos whose KEYFRAME lies
    * within `maxHamming` of any eval-set video's (benchmark-leakage
    * removal; default 0 = exact keyframe match, codec-caveat-free —
    * see [[keyframeHashes]]). One keyframe decode per video per side;
    * the probe is the shared recall-lossless banded join. Output
    * (doc_id, khash, keep) per corpus video. */
  def decontaminate(spark: SparkSession, corpus: DataFrame,
      evalSet: DataFrame, maxHamming: Int = 0): DataFrame =
    Fingerprints.decontaminate(
      keyframeHashes(spark, corpus), keyframeHashes(spark, evalSet),
      "khash", maxHamming)

  /** Frame sampling that decodes ONLY the sampled frames: every
    * `stride`-th frame per video (frame 0 always included), stamped
    * with its exact presentation time in µs (frame_idx · usPerFrame).
    * The unsampled JPEG payloads are never read — the property a
    * 100 TB sampling pass lives on. */
  def sampleFrames(spark: SparkSession, binDf: DataFrame, stride: Int): DataFrame = {
    require(stride > 0, s"stride must be positive, got $stride")
    import spark.implicits._
    binDf.select(col("doc_id"), col("video")).as[(Long, Array[Byte])]
      .flatMap { case (id, bytes) =>
        init
        val m = parseMeta(bytes)
        (0 until m.totalFrames.toInt by stride).iterator.map { f =>
          val gray = decodeFrame(bytes, m, f)
          var sum = 0L
          var i = 0
          while (i < gray.length) { sum += gray(i); i += 1 }
          (id, f, f * m.usPerFrame, m.width, m.height, gray.length.toLong, sum)
        }
      }
      .toDF("doc_id", "frame_idx", "pts_us", "width", "height", "n_px", "sum_lum")
  }
}
