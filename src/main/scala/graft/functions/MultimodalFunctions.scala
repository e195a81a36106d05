package graft.functions

import org.apache.spark.sql.{DataFrame, Dataset}

import graft.model.PageRow

/** Multimodal-column plumbing: opaque `binary` payloads + typed metadata.
  *
  * Image payloads get a REAL pixel decode via JDK ImageIO (PNG/JPEG/GIF/BMP —
  * no native deps), emitting per-image statistics (channel means, gray
  * stddev, histogram entropy) for multimodal quality gating — the analog of
  * the reference's DecodeImage (ppocr/data/imaug/operators.py:29-61).
  * Undecodable or non-image payloads keep the clearly-labeled deterministic
  * digest fallback (`decoded = false`, the lineage flag). The per-partition
  * batching shape (the batch-of-crops pattern from
  * tools/infer/predict_rec.py:569-601: accumulate a fixed-size batch, process,
  * scatter back) and column types are the real contract throughout.
  */
object MultimodalFunctions {

  final case class MediaMeta(
      url: String,
      n_bytes: Long,
      kind: String, // "png"|"jpeg"|"gif"|"bmp"|"pdf"|"html"|"empty"|"other" — magic-byte sniff
      content_md5: String,
      width: Int, // decoded dims when decoded; else REAL header-parse dims; else stub
      height: Int,
      feature: Array[Float], // real pixel stats when decoded=true; digest stub otherwise
      decoded: Boolean // lineage: true iff the pixels were actually decoded
  )

  /** Batch size for the decoder — dense batches amortize codec setup, like
    * the reference's rec_batch_num=6 crop batches. */
  val decodeBatch = 64

  private def sniff(b: Array[Byte]): String =
    if (b == null || b.isEmpty) "empty"
    else if (ImageHeaders.isPng(b)) "png"
    else if (ImageHeaders.isGif(b)) "gif"
    else if (ImageHeaders.isJpeg(b)) "jpeg"
    else if (b.length >= 4 && b(0) == '%' && b(1) == 'P' && b(2) == 'D' && b(3) == 'F') "pdf"
    else if (b.length >= 1 && (b(0) == '<' || b(0) == 0xef.toByte)) "html"
    else if (ImageHeaders.isBmp(b)) "bmp" // after html: 'B' can't open a tag
    else "other"

  /** Real per-image pixel statistics from a decoded image, the 8-dim
    * quality-gating feature vector:
    * [meanR, meanG, meanB, meanGray, stddevGray, grayEntropy/8,
    *  min(w,h)/max(w,h), 1.0] — every term normalized to [0, 1]; the last
    * component mirrors the `decoded` flag so a feature consumer can mask
    * stub rows without joining the metadata. Gray = integer ITU-R 601 luma
    * ((299r + 587g + 114b) / 1000, exact integer division), entropy =
    * Shannon bits over the 256-bin gray histogram. All-integer histogram +
    * double reduction in a fixed order: bit-deterministic at any
    * parallelism. */
  private def pixelFeatures(img: java.awt.image.BufferedImage): Array[Float] = {
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val hist = new Array[Long](256)
    var sr = 0L; var sg = 0L; var sb = 0L; var sgray = 0L; var sgray2 = 0L
    var i = 0
    while (i < px.length) {
      val p = px(i)
      val r = (p >> 16) & 0xff; val g = (p >> 8) & 0xff; val b = p & 0xff
      val gray = (299 * r + 587 * g + 114 * b) / 1000
      sr += r; sg += g; sb += b; sgray += gray; sgray2 += gray.toLong * gray
      hist(gray) += 1
      i += 1
    }
    val n = px.length.toDouble
    val mean = sgray / n
    val variance = math.max(0.0, sgray2 / n - mean * mean)
    var entropy = 0.0
    var k = 0
    while (k < 256) {
      if (hist(k) > 0) {
        val p = hist(k) / n
        entropy -= p * (math.log(p) / math.log(2.0))
      }
      k += 1
    }
    Array(
      (sr / n / 255.0).toFloat, (sg / n / 255.0).toFloat, (sb / n / 255.0).toFloat,
      (mean / 255.0).toFloat, (math.sqrt(variance) / 255.0).toFloat,
      (entropy / 8.0).toFloat,
      (math.min(w, h).toDouble / math.max(w, h)).toFloat, 1.0f)
  }

  /** Decode step. Image-kind payloads go through a REAL JDK ImageIO pixel
    * decode (PNG/JPEG/GIF/BMP, the reference's DecodeImage analog,
    * ppocr/data/imaug/operators.py:29-61): decoded dims + per-image pixel
    * statistics ([[pixelFeatures]]), `decoded = true`. Payloads ImageIO
    * cannot decode fall back to REAL header-parse dims (PNG IHDR, JPEG SOFn,
    * GIF screen descriptor, BMP info header — see ImageHeaders) and, failing
    * that, digest-derived stub dims; both fallbacks keep the labeled
    * deterministic digest feature with `decoded = false` — never a silent
    * fake. The batch signature (batch in → per-item dims + feature vector
    * out) is the production decoder contract. */
  /** Decompression-bomb ceiling: decode allocates ~8 bytes/pixel
    * (BufferedImage + the getRGB copy), so 64 Mpx caps the per-image
    * footprint at ~512 MB — far above any legitimate web image (8k video
    * frames are 33 Mpx), far below the OOM that would kill the task on a
    * crafted few-hundred-byte payload declaring 40000x40000. */
  private val MaxDecodePixels = 64L << 20

  private def decode(batch: Array[(String, Array[Byte], String, Array[Byte])])
      : Array[MediaMeta] = {
    // payloads are already in memory — skip ImageIO's default per-read
    // disk-backed FileCacheImageInputStream temp file (JVM-global, idempotent)
    javax.imageio.ImageIO.setUseCache(false)
    batch.map { case (url, payload, kind, digest) =>
      // bomb guard BEFORE the pixel decode, on the dims the decoder will
      // ACTUALLY allocate: ImageReader.getWidth/getHeight(0) read the frame
      // descriptor without decoding pixel data. The container header is not
      // enough — a GIF's logical screen can declare 1x1 while its image
      // descriptor declares 16000x16000, and the raster is sized from the
      // latter. A reader that cannot even report frame dims never decodes.
      val real: Option[MediaMeta] =
        if (kind == "png" || kind == "jpeg" || kind == "gif" || kind == "bmp")
          guardedImageRead(payload).map(img =>
            MediaMeta(url, payload.length.toLong, kind,
              digest.map("%02x".format(_)).mkString,
              img.getWidth, img.getHeight, pixelFeatures(img),
              decoded = true))
        else None
      real.getOrElse {
        val (w, h) = ImageHeaders.dims(payload) match {
          case Some(d) => (d.width, d.height)
          case None => (64 + (digest(0) & 0x7f) * 16, 64 + (digest(1) & 0x7f) * 16)
        }
        val feat = Array.tabulate(8)(i => (digest(i) & 0xff).toFloat / 255.0f)
        MediaMeta(url, if (payload == null) 0L else payload.length.toLong, kind,
          digest.map("%02x".format(_)).mkString, w, h, feat, decoded = false)
      }
    }
  }

  /** Resize planning on media metadata — the EXACT arithmetic of the
    * reference's DetResizeForTest type-0 path (limit the long side to
    * `limitSideLen`; truncate the scaled dims like Python's int(); round to
    * the nearest multiple of 32 with HALF_EVEN — Python 3 round() IS
    * banker's rounding — floor 32; ppocr/data/imaug/operators.py:198-325).
    * The pixels are stubbed elsewhere; this arithmetic is real and
    * spec-tested against hand-computed reference values. Pure column
    * expressions — row-local, no shuffle. */
  def resizePlan(meta: DataFrame, limitSideLen: Int = 960): DataFrame = {
    import org.apache.spark.sql.functions._
    val w = col("width").cast("double")
    val h = col("height").cast("double")
    val ratio = when(greatest(w, h) > limitSideLen, lit(limitSideLen.toDouble) / greatest(w, h))
      .otherwise(lit(1.0))
    def snap32(c: org.apache.spark.sql.Column) = {
      val truncated = floor(c) // int(h * ratio): positive values truncate = floor
      greatest(bround(truncated / 32) * 32, lit(32)).cast("int") // bround = HALF_EVEN
    }
    meta.select(col("url"), col("width"), col("height"),
      snap32(w * ratio).as("out_w"), snap32(h * ratio).as("out_h"))
  }

  final case class VideoFrameMeta(
      url: String,
      n_bytes: Long,
      content_md5: String,
      container: String, // "y4m" | "avi" — or the media sniff kind when undecoded
      n_frames: Long, // complete frames present in the payload
      frame_idx: Int, // source-stream index of this sampled frame
      frame_ts_ms: Long,
      width: Int,
      height: Int,
      luma_mean: Double, // over the frame's luma plane, 0..255
      luma_std: Double, // population stddev
      motion: Double, // mean |luma − previous SAMPLED frame's luma|; 0 for the first
      decoded: Boolean)

  /** One parsed video stream: dims, frame duration in µs, the complete-frame
    * count, and an index→luma decode function. Per-frame state in the parsed
    * representation is ONE primitive int (two for AVI) — never a boxed tuple
    * or closure per frame, so a crafted payload of millions of tiny frames
    * costs memory proportional to the payload itself, not a 50× blow-up. */
  private final case class VideoStream(
      container: String, w: Int, h: Int, usPerFrame: Double,
      nFrames: Int, decode: Int => Array[Byte])

  /** YUV4MPEG2: ASCII header (`W H F<num>:<den> … C…`), then per frame a
    * `FRAME…\n` marker line + planar YCbCr. Only the luma plane is read.
    * Colorspace tags are an explicit 8-bit allowlist: the bit-depth-extended
    * variants ffmpeg writes (C420p10/C422p12/C444p16…) store 2-byte samples,
    * so reading them at the 8-bit frame size would emit garbage statistics
    * labeled decoded=true — they take the labeled fallback instead (never
    * fabricated features). A stream cut mid-frame keeps
    * its complete leading frames (frames are independent units — the WARC
    * truncated-gzip discipline), unlike audio where a cut stream is one
    * corrupt signal. */
  private def parseY4m(p: Array[Byte]): Option[VideoStream] = {
    val eol = p.indexOf('\n'.toByte)
    if (eol < 9 || eol > 256) return None
    val header = new String(p, 0, eol, java.nio.charset.StandardCharsets.US_ASCII)
    if (!header.startsWith("YUV4MPEG2")) return None
    var w = 0; var h = 0; var num = 25; var den = 1; var cs = "420"
    var bad = false
    header.split(' ').iterator.drop(1).foreach { t =>
      try t.headOption match {
        case Some('W') => w = t.tail.toInt
        case Some('H') => h = t.tail.toInt
        case Some('F') =>
          val parts = t.tail.split(':')
          if (parts.length == 2) { num = parts(0).toInt; den = parts(1).toInt }
        case Some('C') => cs = t.tail
        case _ => ()
      } catch { case _: NumberFormatException => bad = true }
    }
    if (bad || w <= 0 || h <= 0 || num <= 0 || den <= 0 ||
        w.toLong * h > MaxDecodePixels) return None
    val lumaSize = w * h
    // 8-bit colorspaces ONLY (the spec's own tag set); anything else — p10/
    // p12/p16 bit-depth suffixes, C411, unknown tags — is a labeled fallback
    val frameSize = lumaSize + (cs match {
      case "420" | "420jpeg" | "420mpeg2" | "420paldv" => 2 * ((w / 2) * (h / 2))
      case "422" => 2 * ((w / 2) * h)
      case "444" => 2 * lumaSize
      case "mono" => 0
      case _ => return None
    })
    val offs = new scala.collection.mutable.ArrayBuilder.ofInt // luma starts
    var pos = eol + 1
    var ok = true
    while (ok && pos + 6 <= p.length) {
      // FRAME marker line (may carry parameters up to its own newline)
      if (!(p(pos) == 'F' && p(pos + 1) == 'R' && p(pos + 2) == 'A' &&
            p(pos + 3) == 'M' && p(pos + 4) == 'E')) ok = false
      else {
        var nl = pos + 5
        while (nl < p.length && p(nl) != '\n') nl += 1
        val dataStart = nl + 1
        if (nl >= p.length || frameSize > p.length - dataStart) ok = false
        else {
          offs += dataStart
          pos = dataStart + frameSize
        }
      }
    }
    val fs = offs.result()
    if (fs.isEmpty) None
    else Some(VideoStream("y4m", w, h, 1e6 * den / num, fs.length,
      fi => java.util.Arrays.copyOfRange(p, fs(fi), fs(fi) + lumaSize)))
  }

  /** RIFF/AVI walk: `dwMicroSecPerFrame` from the first `avih` chunk, frame
    * payloads from `00dc` chunks inside the `movi` LIST (Motion-JPEG: each
    * chunk is a complete JPEG, decoded via the guarded ImageIO path with
    * the same bomb ceiling as still images). Truncated containers keep the
    * chunks that are complete. LIST recursion is depth-capped: real AVI
    * nests ≤4 (RIFF→hdrl/movi→strl→…); a crafted chain of thousands of
    * 12-byte LIST shells would otherwise StackOverflowError — an Error the
    * Exception guard below does NOT catch — and kill the task. */
  private val MaxRiffDepth = 32
  private def parseAvi(p: Array[Byte]): Option[VideoStream] = {
    def le32(off: Int): Long =
      (p(off) & 0xffL) | ((p(off + 1) & 0xffL) << 8) |
      ((p(off + 2) & 0xffL) << 16) | ((p(off + 3) & 0xffL) << 24)
    def tag(off: Int): String =
      new String(p, off, 4, java.nio.charset.StandardCharsets.US_ASCII)
    if (p.length < 24 || tag(0) != "RIFF" || tag(8) != "AVI ") return None
    var usPerFrame = 0.0
    val offs = new scala.collection.mutable.ArrayBuilder.ofInt
    val lens = new scala.collection.mutable.ArrayBuilder.ofInt
    def walk(start: Int, end: Int, inMovi: Boolean, depth: Int): Unit = {
      if (depth > MaxRiffDepth) return
      var pos = start
      while (pos + 8 <= end) {
        val id = tag(pos)
        val size = le32(pos + 4)
        if (size < 0 || size > Int.MaxValue) return
        val body = pos + 8
        // ALL bounds checks vs `end` are subtraction-form: `body + size.toInt`
        // can exceed Int.MaxValue for a crafted 32-bit size, and the wrapped
        // NEGATIVE sum passes a `<= end` check — recording a bogus frame and
        // driving `pos` negative, so the walk threw and the catch-all demoted
        // the WHOLE stream to a fallback, discarding its valid complete
        // frames (and had the bogus entry ever been reached, its copyOfRange
        // would throw outside every guard — frame 0 decodes eagerly below)
        val room = end - body // ≥ 0: the loop condition bounds body ≤ end
        val avail = body + math.min(size, room.toLong).toInt // truncation-tolerant
        if (id == "LIST" && room >= 4) {
          val listType = tag(body)
          walk(body + 4, avail, inMovi || listType == "movi", depth + 1)
        } else if (id == "avih" && usPerFrame == 0.0 && room >= 4) {
          usPerFrame = le32(body).toDouble
        } else if (inMovi && id == "00dc" && size <= room) {
          offs += body; lens += size.toInt
        }
        val next = body.toLong + size + (size & 1L)
        if (next > end) return // oversized trailer: keep the complete frames
        pos = next.toInt
      }
    }
    try walk(12, p.length, inMovi = false, depth = 0)
    catch { case _: Exception => return None } // malformed offsets → fallback
    val jo = offs.result(); val jl = lens.result()
    if (jo.isEmpty) return None
    // dims + frame-0 luma from ONE guarded decode (the probe IS frame 0's
    // decode — sample index 0 is always selected, so no frame decodes twice)
    guardedImageRead(java.util.Arrays.copyOfRange(
      p, jo(0), jo(0) + jl(0))) match {
      case None => None
      case Some(first) =>
        val luma0 = toLuma(first)
        Some(VideoStream("avi", first.getWidth, first.getHeight,
          if (usPerFrame > 0) usPerFrame else 40000.0, jo.length,
          fi =>
            if (fi == 0) luma0
            else guardedImageRead(java.util.Arrays.copyOfRange(
                p, jo(fi), jo(fi) + jl(fi)))
              .fold(Array.emptyByteArray)(toLuma))) // undecodable → empty plane
    }
  }

  /** BT.601 integer luma from a decoded frame. */
  private def toLuma(img: java.awt.image.BufferedImage): Array[Byte] = {
    val w = img.getWidth; val h = img.getHeight
    val px = img.getRGB(0, 0, w, h, null, 0, w)
    val out = new Array[Byte](w * h)
    var i = 0
    while (i < px.length) {
      val v = px(i)
      val r = (v >> 16) & 0xff; val g = (v >> 8) & 0xff; val b = v & 0xff
      out(i) = ((299 * r + 587 * g + 114 * b) / 1000).toByte
      i += 1
    }
    out
  }

  /** THE guarded ImageIO read — shared by still images ([[decode]]) and
    * per-frame video decode: the bomb ceiling checks the frame-descriptor
    * dims the decoder will ACTUALLY allocate (ImageReader.getWidth/
    * getHeight(0)), BEFORE any raster allocation — a GIF's logical screen
    * can declare 1x1 while its image descriptor declares 16000x16000, and
    * the raster is sized from the latter. A reader that cannot even report
    * frame dims never decodes; truncated/corrupt payloads return None. */
  private def guardedImageRead(bytes: Array[Byte])
      : Option[java.awt.image.BufferedImage] = try {
    javax.imageio.ImageIO.setUseCache(false)
    val iis = javax.imageio.ImageIO.createImageInputStream(
      new java.io.ByteArrayInputStream(bytes))
    try {
      val readers = javax.imageio.ImageIO.getImageReaders(iis)
      if (!readers.hasNext) None
      else {
        val reader = readers.next()
        try {
          reader.setInput(iis, true, true)
          val fw = reader.getWidth(0).toLong
          val fh = reader.getHeight(0).toLong
          if (fw <= 0 || fh <= 0 || fw * fh > MaxDecodePixels) None
          else Option(reader.read(0))
        } finally reader.dispose()
      }
    } finally iis.close() // createImageInputStream's stream is ours to close
  } catch { case _: Exception => None }

  /** REAL video frame sampling: decode Y4M (raw YUV4MPEG2 — pure bytes, the
    * ffmpeg/x264 interchange format) and Motion-JPEG AVI (RIFF walk like
    * [[audioMeta]]'s WAV + per-frame ImageIO JPEG decode like [[mediaMeta]])
    * payloads, sample ≤ `maxFrames` frames evenly across the stream, and
    * emit per-frame luma statistics — mean/stddev (black-frame and
    * flat-frame screens) and inter-sample motion (static-scene screen), the
    * video-quality gates of a multimodal training-data pipeline. Payloads in
    * any other format (no pure-JVM codec exists) take ONE labeled zeroed
    * row with `decoded = false` — the [[audioMeta]] fallback discipline,
    * never fabricated frames. Truncated streams keep their complete leading
    * frames (frames are independent units; the WARC truncated-gzip
    * discipline). No shuffle: scan → mapPartitions → rows; state is one
    * previous-luma plane per stream (≤ the frame size, freed per row). */
  def videoFrames(pages: Dataset[PageRow], maxFrames: Int = 8): DataFrame = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.flatMap { p =>
        val payload = if (p.html == null) Array.emptyByteArray else p.html
        md.reset()
        val digest = md.digest(payload).map("%02x".format(_)).mkString
        val stream =
          if (payload.length >= 9 && payload(0) == 'Y' && payload(1) == 'U' &&
              payload(2) == 'V' && payload(3) == '4') parseY4m(payload)
          else if (payload.length >= 12 && payload(0) == 'R' &&
              payload(8) == 'A' && payload(9) == 'V' && payload(10) == 'I')
            parseAvi(payload)
          else None
        stream match {
          case None =>
            Seq(VideoFrameMeta(p.url, payload.length.toLong, digest,
              sniff(payload), 0L, 0, 0L, 0, 0, 0.0, 0.0, 0.0, decoded = false))
          case Some(vs) =>
            val n = vs.nFrames
            val idxs =
              if (n <= maxFrames) 0 until n
              else (0 until maxFrames).map(k => (k.toLong * n / maxFrames).toInt)
            var prev: Array[Byte] = null
            idxs.map { fi =>
              val luma = vs.decode(fi)
              var sum = 0L; var sum2 = 0L
              var i = 0
              while (i < luma.length) {
                val v = luma(i) & 0xff
                sum += v; sum2 += v.toLong * v
                i += 1
              }
              val m = luma.length
              val mean = if (m == 0) 0.0 else sum.toDouble / m
              val varr = if (m == 0) 0.0 else sum2.toDouble / m - mean * mean
              val motion =
                if (prev == null || prev.length != luma.length || m == 0) 0.0
                else {
                  var acc = 0L; var j = 0
                  while (j < m) {
                    acc += math.abs((luma(j) & 0xff) - (prev(j) & 0xff)); j += 1
                  }
                  acc.toDouble / m
                }
              prev = luma
              VideoFrameMeta(p.url, payload.length.toLong, digest, vs.container,
                n.toLong, fi, math.round(fi * vs.usPerFrame / 1000.0),
                vs.w, vs.h, mean, math.sqrt(math.max(0.0, varr)), motion,
                decoded = m > 0)
            }
        }
      }
    }.toDF()
  }

  final case class AudioMeta(
      url: String,
      n_bytes: Long,
      content_md5: String,
      sample_rate: Int,
      channels: Int,
      bits: Int,
      n_frames: Long,
      duration_ms: Long,
      rms: Double, // over all samples, full-scale = 1.0
      peak: Double,
      zcr: Double, // channel-0 consecutive-sample sign-change fraction
      decoded: Boolean)

  /** REAL audio decode for WAV payloads via JDK javax.sound (PCM WAV needs
    * no external codec — the audio analog of the ImageIO image path):
    * format metadata + signal statistics (RMS, peak, zero-crossing rate)
    * for audio-quality gating (silence/clipping screens). Non-RIFF or
    * undecodable payloads, formats other than 16-bit signed PCM, and
    * payloads cut mid-data (fewer bytes than the header declares) emit
    * zeroed stats with `decoded = false` — labeled, never fabricated.
    * No shuffle: scan → mapPartitions → rows. */
  def audioMeta(pages: Dataset[PageRow]): DataFrame = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.map { p =>
        val payload = if (p.html == null) Array.emptyByteArray else p.html
        md.reset()
        val digest = md.digest(payload).map("%02x".format(_)).mkString
        val isRiff = payload.length >= 12 &&
          payload(0) == 'R' && payload(1) == 'I' && payload(2) == 'F' &&
          payload(3) == 'F' && payload(8) == 'W' && payload(9) == 'A' &&
          payload(10) == 'V' && payload(11) == 'E'
        val real: Option[AudioMeta] = if (!isRiff) None else try {
          val in = javax.sound.sampled.AudioSystem.getAudioInputStream(
            new java.io.ByteArrayInputStream(payload))
          val f = in.getFormat
          val ok = f.getEncoding ==
            javax.sound.sampled.AudioFormat.Encoding.PCM_SIGNED &&
            f.getSampleSizeInBits == 16
          if (!ok) { in.close(); None }
          else {
            val declaredFrames = in.getFrameLength // -1 when unspecified
            val bytes = in.readAllBytes(); in.close()
            // a payload cut mid-data still opens fine (header intact) but
            // yields fewer bytes than the declared data length — that is the
            // documented truncated case and must take the labeled
            // decoded=false fallback, not a silent partial-signal decode
            if (declaredFrames >= 0 &&
                bytes.length < declaredFrames * f.getFrameSize) throw
              new java.io.EOFException(s"WAV data truncated: ${bytes.length}" +
                s" < ${declaredFrames * f.getFrameSize} declared bytes")
            val ch = f.getChannels
            val big = f.isBigEndian
            val n = bytes.length / 2
            var sum2 = 0.0; var peak = 0L; var flips = 0L; var prevSign = 0
            var i = 0
            while (i < n) {
              val off = i * 2
              val s =
                if (big) ((bytes(off) << 8) | (bytes(off + 1) & 0xff)).toShort
                else ((bytes(off + 1) << 8) | (bytes(off) & 0xff)).toShort
              val d = s.toDouble / 32768.0
              sum2 += d * d
              if (math.abs(s.toLong) > peak) peak = math.abs(s.toLong)
              if (i % ch == 0) { // channel 0 only for zcr
                val sign = java.lang.Integer.signum(s)
                if (sign != 0 && prevSign != 0 && sign != prevSign) flips += 1
                if (sign != 0) prevSign = sign
              }
              i += 1
            }
            val frames = n / ch
            val rate = math.round(f.getSampleRate).toInt
            Some(AudioMeta(p.url, payload.length.toLong, digest,
              rate, ch, 16, frames.toLong,
              frames.toLong * 1000L / rate,
              math.sqrt(if (n == 0) 0.0 else sum2 / n),
              peak.toDouble / 32768.0,
              if (frames <= 1) 0.0 else flips.toDouble / (frames - 1),
              decoded = true))
          }
        } catch { case _: Exception => None } // truncated/corrupt → fallback
        real.getOrElse(AudioMeta(p.url, payload.length.toLong, digest,
          0, 0, 0, 0L, 0L, 0.0, 0.0, 0.0, decoded = false))
      }
    }.toDF()
  }

  /** Metadata + decoded features for every page payload, batched per
    * partition (real ImageIO pixel decode for image kinds, labeled digest
    * fallback otherwise). No shuffle: scan → mapPartitions → rows. */
  def mediaMeta(pages: Dataset[PageRow]): DataFrame = {
    import pages.sparkSession.implicits._
    pages.mapPartitions { it =>
      val md = java.security.MessageDigest.getInstance("MD5")
      it.grouped(decodeBatch).flatMap { group =>
        val batch = group.map { p =>
          md.reset()
          val digest = md.digest(if (p.html == null) Array.emptyByteArray else p.html)
          (p.url, p.html, sniff(p.html), digest)
        }.toArray
        decode(batch)
      }
    }.toDF()
  }
}
