package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.MultimodalFunctions
import graft.pipeline.CorpusSource

/** Multimodal plumbing: resize arithmetic (exact vs the reference's
  * DetResizeForTest type-0 semantics), frame-sample explode shape, and
  * determinism of the stubbed decodes. */
class MultimodalSpec extends AnyFunSuite {

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("resizePlan matches the reference arithmetic exactly") {
    import spark.implicits._
    // expected values computed with the reference's formula
    // (limit 960, int() truncation, banker's round to 32, floor 32)
    val cases = Seq(
      (640, 480) -> (640, 480),
      (1920, 1080) -> (960, 544),
      (2048, 2048) -> (960, 960),
      (100, 3000) -> (32, 960),
      (31, 31) -> (32, 32),
      (960, 960) -> (960, 960),
      (1000, 500) -> (960, 480),
      (1008, 504) -> (960, 480))
    val in = cases.map { case ((w, h), _) => (s"u${w}x$h", w, h) }
      .toDF("url", "width", "height")
    val got = MultimodalFunctions.resizePlan(in)
      .collect().map(r => (r.getInt(1), r.getInt(2)) -> (r.getInt(3), r.getInt(4))).toMap
    for ((in2, want) <- cases)
      assert(got(in2) == want, s"$in2: got ${got(in2)}, reference says $want")
  }

  test("image headers: hand-authored PNG/JPEG/GIF/BMP dims parse exactly") {
    import graft.corpus.MediaFixtures
    import graft.functions.ImageHeaders
    // hand-authored header bytes (not via MediaFixtures): PNG 800x600
    val png = Array[Int](0x89, 'P', 'N', 'G', 0x0d, 0x0a, 0x1a, 0x0a,
      0, 0, 0, 13, 'I', 'H', 'D', 'R',
      0, 0, 0x03, 0x20, /* 800 */ 0, 0, 0x02, 0x58, /* 600 */
      8, 2, 0, 0, 0).map(_.toByte)
    assert(ImageHeaders.dims(png).contains(ImageHeaders.Dims(800, 600)))
    // GIF 320x200 little-endian
    val gif = "GIF89a".getBytes("US-ASCII") ++
      Array[Int](0x40, 0x01, 0xc8, 0x00, 0, 0, 0).map(_.toByte)
    assert(ImageHeaders.dims(gif).contains(ImageHeaders.Dims(320, 200)))
    // builder round-trips, incl. the JPEG DHT-before-SOF skip
    for ((w, h) <- Seq((1, 1), (960, 540), (4096, 2160), (65535, 3))) {
      assert(ImageHeaders.dims(MediaFixtures.png(w, h)).contains(ImageHeaders.Dims(w, h)))
      assert(ImageHeaders.dims(MediaFixtures.jpeg(w, h)).contains(ImageHeaders.Dims(w, h)))
      assert(ImageHeaders.dims(MediaFixtures.gif(math.min(w, 65535), h))
        .contains(ImageHeaders.Dims(math.min(w, 65535), h)))
      assert(ImageHeaders.dims(MediaFixtures.bmp(w, h)).contains(ImageHeaders.Dims(w, h)))
    }
    // BMP DIB header size 12 (BITMAPCOREHEADER) carries uint16 width/height;
    // every size from 16 up (the OS/2 BITMAPINFOHEADER2 short forms and
    // BITMAPINFOHEADER) carries int32, negative height = top-down rows
    def le(v: Int, n: Int) = Array.tabulate[Byte](n)(k => (v >>> (8 * k)).toByte)
    def bmp(dib: Array[Byte]) = {
      val size = 14 + dib.length
      "BM".getBytes("US-ASCII") ++ le(size, 4) ++ le(0, 4) ++ le(size, 4) ++ dib
    }
    val os2 = bmp(le(16, 4) ++ le(640, 4) ++ le(-480, 4) ++ le(1, 2) ++ le(24, 2))
    assert(ImageHeaders.dims(os2).contains(ImageHeaders.Dims(640, 480)))
    val core = bmp(le(12, 4) ++ le(640, 2) ++ le(480, 2) ++ le(1, 2) ++ le(24, 2))
    assert(ImageHeaders.dims(core).contains(ImageHeaders.Dims(640, 480)))
    // truncation / corruption → None (stub fallback), never a wrong parse
    assert(ImageHeaders.dims(png.take(20)).isEmpty)
    assert(ImageHeaders.dims(Array[Byte](1, 2, 3)).isEmpty)
    assert(ImageHeaders.dims(MediaFixtures.jpeg(640, 480).take(10)).isEmpty)
    assert(ImageHeaders.dims(null).isEmpty)
  }

  test("mediaMeta reports real header dims for image rows, stub for the rest") {
    import graft.pipeline.CorpusSource
    val pages = CorpusSource.pages(spark, 32).union(CorpusSource.mediaPages(spark, 24))
    val metas = MultimodalFunctions.mediaMeta(pages).collect()
      .map(r => r.getString(0) -> ((r.getString(2), r.getInt(4), r.getInt(5)))).toMap
    var imgRows = 0
    for ((url, (kind, w, h)) <- metas if url.startsWith("https://img.")) {
      imgRows += 1
      val idx = url.drop(url.length - 4).toInt
      val (ew, eh) = CorpusSource.mediaDims(idx)
      assert((w, h) == ((ew, eh)), s"$url: got ${(w, h)}, authored ${(ew, eh)}")
      val expectKind = Seq("png", "jpeg", "gif", "bmp")(idx % 4)
      assert(kind == expectKind, s"$url sniffed $kind")
    }
    assert(imgRows == 24)
    // non-image payloads keep their sniff kinds and stub dims
    assert(metas.exists { case (u, (k, _, _)) => !u.startsWith("https://img.") && k == "html" })
  }

  test("mediaMeta: real pixel decode — features match hand-computed statistics") {
    import spark.implicits._
    import java.awt.image.BufferedImage
    def bytesOf(img: BufferedImage, fmt: String): Array[Byte] = {
      val out = new java.io.ByteArrayOutputStream()
      assert(javax.imageio.ImageIO.write(img, fmt, out), s"no writer for $fmt")
      out.toByteArray
    }
    // 2x1 black|white: meanR=G=B=127.5/255=0.5; grays {0,255} -> mean 0.5,
    // stddev 127.5/255=0.5, entropy 1 bit -> 1/8; aspect min/max = 1/2
    val bw = new BufferedImage(2, 1, BufferedImage.TYPE_INT_RGB)
    bw.setRGB(0, 0, 0x000000); bw.setRGB(1, 0, 0xffffff)
    // 3x3 solid (10,20,30): gray = (299*10+587*20+114*30)/1000 = 18 (int div)
    val solid = new BufferedImage(3, 3, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 3; y <- 0 until 3) solid.setRGB(x, y, (10 << 16) | (20 << 8) | 30)
    // 16x16 solid mid-gray JPEG: lossy, but a uniform block round-trips close
    val gray = new BufferedImage(16, 16, BufferedImage.TYPE_INT_RGB)
    for (x <- 0 until 16; y <- 0 until 16) gray.setRGB(x, y, 0x808080)
    val pages = Seq(
      ("https://px.example.org/bw.png", bytesOf(bw, "png")),
      ("https://px.example.org/bw.gif", bytesOf(bw, "gif")), // 2 colors: exact palette
      ("https://px.example.org/solid.bmp", bytesOf(solid, "bmp")),
      ("https://px.example.org/gray.jpg", bytesOf(gray, "jpeg")),
      // header-only fixture: ImageIO cannot decode -> labeled fallback
      ("https://px.example.org/hdr.png", graft.corpus.MediaFixtures.png(800, 600))
    ).map { case (u, b) =>
      graft.model.PageRow(u, new java.sql.Timestamp(1577836800000L), b, null, null)
    }.toDS()
    val rows = MultimodalFunctions.mediaMeta(pages).collect()
      .map(r => r.getString(0) ->
        ((r.getString(2), r.getInt(4), r.getInt(5),
          r.getSeq[Float](6).toArray, r.getBoolean(7)))).toMap
    def close(got: Array[Float], want: Array[Double], tol: Double): Unit =
      for (i <- want.indices)
        assert(math.abs(got(i) - want(i)) <= tol,
          s"feature[$i]: got ${got(i)}, want ${want(i)} (tol $tol): ${got.mkString(",")}")
    val (kBw, wBw, hBw, fBw, dBw) = rows("https://px.example.org/bw.png")
    assert((kBw, wBw, hBw, dBw) == (("png", 2, 1, true)))
    close(fBw, Array(0.5, 0.5, 0.5, 0.5, 0.5, 1.0 / 8, 0.5, 1.0), 1e-6)
    val (kG, wG, hG, fG, dG) = rows("https://px.example.org/bw.gif")
    assert((kG, wG, hG, dG) == (("gif", 2, 1, true)))
    close(fG, Array(0.5, 0.5, 0.5, 0.5, 0.5, 1.0 / 8, 0.5, 1.0), 1e-6)
    val (kS, wS, hS, fS, dS) = rows("https://px.example.org/solid.bmp")
    assert((kS, wS, hS, dS) == (("bmp", 3, 3, true)))
    close(fS, Array(10.0 / 255, 20.0 / 255, 30.0 / 255, 18.0 / 255, 0, 0, 1.0, 1.0), 1e-6)
    val (kJ, wJ, hJ, fJ, dJ) = rows("https://px.example.org/gray.jpg")
    assert((kJ, wJ, hJ, dJ) == (("jpeg", 16, 16, true)))
    close(fJ, Array(128.0 / 255, 128.0 / 255, 128.0 / 255, 128.0 / 255,
      0, 0, 1.0, 1.0), 0.02) // DCT tolerance: uniform block, near-lossless
    // undecodable: header dims recovered, digest feature, decoded=false
    val (kH, wH, hH, fH, dH) = rows("https://px.example.org/hdr.png")
    assert((kH, wH, hH, dH) == (("png", 800, 600, false)))
    assert(fH.forall(f => f >= 0.0f && f <= 1.0f))
    // determinism: same inputs -> bit-identical features
    val again = MultimodalFunctions.mediaMeta(pages).collect()
      .map(r => r.getString(0) -> r.getSeq[Float](6)).toMap
    for ((u, (_, _, _, f, _)) <- rows)
      assert(again(u).toArray.toSeq == f.toSeq, s"$u features not deterministic")
    // a REAL image truncated mid-stream: decode fails, but the intact IHDR
    // still yields header dims via the labeled fallback — never a crash,
    // never a fabricated decode
    val realPng = bytesOf(bw, "png")
    val cutPages = Seq(graft.model.PageRow("https://px.example.org/cut.png",
      new java.sql.Timestamp(1577836800000L),
      java.util.Arrays.copyOf(realPng, 40), null, null)).toDS()
    val cut = MultimodalFunctions.mediaMeta(cutPages).collect().head
    assert(cut.getString(2) == "png" && !cut.getBoolean(7))
    assert((cut.getInt(4), cut.getInt(5)) == ((2, 1)), "IHDR dims recovered")
    // decompression bomb: a REAL PNG whose IHDR is patched to DECLARE
    // 40000x40000 (ImageIO sizes the raster from the IHDR, ~6.4 GB, before
    // any pixel data is read) — the declared-dims guard must refuse the
    // pixel decode and take the labeled header-dims fallback, never OOM
    val bomb = java.util.Arrays.copyOf(realPng, realPng.length)
    for (off <- Seq(16, 20); k <- 0 to 3) // IHDR width @16, height @20 (be32)
      bomb(off + k) = ((40000 >>> (24 - 8 * k)) & 0xff).toByte
    val bombPages = Seq(graft.model.PageRow("https://px.example.org/bomb.png",
      new java.sql.Timestamp(1577836800000L), bomb, null, null)).toDS()
    val br = MultimodalFunctions.mediaMeta(bombPages).collect().head
    assert(!br.getBoolean(7), "over-ceiling declared dims must not decode")
    assert((br.getInt(4), br.getInt(5)) == ((40000, 40000)), "declared dims recovered")
    // GIF frame-descriptor bomb: the logical screen (what the container
    // header declares) says 1x1, but the image descriptor — which is what
    // the decoder sizes the raster from — says 16000x16000 (~1 GB). The
    // guard reads the FRAME dims via ImageReader, so this must refuse the
    // decode and fall back to the header dims, never allocate
    val gBomb = graft.corpus.MediaFixtures.gifFrameBomb(1, 1, 16000, 16000)
    val gPages = Seq(graft.model.PageRow("https://px.example.org/bomb.gif",
      new java.sql.Timestamp(1577836800000L), gBomb, null, null)).toDS()
    val gr = MultimodalFunctions.mediaMeta(gPages).collect().head
    assert(gr.getString(2) == "gif" && !gr.getBoolean(7),
      "frame-descriptor bomb must not decode")
    assert((gr.getInt(4), gr.getInt(5)) == ((1, 1)), "screen dims fallback")
  }

  test("audioMeta: WAV statistics match from-construction values; fallbacks labeled") {
    import spark.implicits._
    import graft.corpus.MediaFixtures
    // square wave amplitude 0.5 -> every sample = ±round(0.5*32767) = ±16384
    // -> RMS = peak = 16384/32768 = 0.5 EXACTLY; sine 0.25 -> RMS ≈ 0.25/√2
    val sq = MediaFixtures.wav(440, 100, 0.5, rate = 8000, square = true)
    val sn = MediaFixtures.wav(440, 100, 0.25, rate = 8000, square = false)
    val st = MediaFixtures.wav(330, 50, 0.5, rate = 8000, channels = 2)
    val cut = java.util.Arrays.copyOf(sq, 30)
    // cut INSIDE the data chunk: the header opens fine, but the payload has
    // fewer bytes than the declared frame count — must be the labeled
    // fallback, never a silent partial-signal decode
    val midCut = java.util.Arrays.copyOf(sq, sq.length - 100)
    val pages = Seq(
      ("https://au.example.org/sq.wav", sq), ("https://au.example.org/sn.wav", sn),
      ("https://au.example.org/st.wav", st), ("https://au.example.org/cut.wav", cut),
      ("https://au.example.org/midcut.wav", midCut),
      ("https://au.example.org/html", "<html><body>x</body></html>".getBytes("UTF-8"))
    ).map { case (u, b) =>
      graft.model.PageRow(u, new java.sql.Timestamp(1577836800000L), b, null, null)
    }.toDS()
    val rows = MultimodalFunctions.audioMeta(pages).collect()
      .map(r => r.getString(0) -> r).toMap
    val rsq = rows("https://au.example.org/sq.wav")
    assert(rsq.getBoolean(11), "square decodes")
    assert((rsq.getInt(3), rsq.getInt(4), rsq.getInt(5)) == ((8000, 1, 16)))
    assert(rsq.getLong(6) == 800L && rsq.getLong(7) == 100L) // frames, ms
    // EXACT from-construction stats: sample k = round(0.5·32767·(±1)) —
    // +16384 but −16383 (math.round is half-UP), so replicate the fixture
    // formula rather than assuming a symmetric ±16384
    def sgn(j: Int) = if ((math.floor(440.0 * j / 8000 * 2).toLong % 2) == 0) 1 else -1
    val samples = (0 until 800).map(k => math.round(0.5 * 32767 * sgn(k)))
    val expRms = math.sqrt(samples.map(v => (v / 32768.0) * (v / 32768.0)).sum / 800)
    val expPeak = samples.map(math.abs).max / 32768.0
    assert(rsq.getDouble(8) == expRms && rsq.getDouble(9) == expPeak,
      s"rms=${rsq.getDouble(8)} want $expRms, peak=${rsq.getDouble(9)} want $expPeak")
    assert(math.abs(rsq.getDouble(8) - 0.5) < 1e-4 && expPeak == 0.5)
    // zcr from construction: sign flips where floor(2*440*k/8000) parity
    // changes; count with the fixture's own sample formula, independently
    val expFlips = (1 until 800).count { k =>
      def sgn(j: Int) = if ((math.floor(440.0 * j / 8000 * 2).toLong % 2) == 0) 1 else -1
      sgn(k) != sgn(k - 1)
    }
    assert(rsq.getDouble(10) == expFlips.toDouble / 799, s"zcr=${rsq.getDouble(10)}")
    val rsn = rows("https://au.example.org/sn.wav")
    assert(rsn.getBoolean(11))
    assert(math.abs(rsn.getDouble(8) - 0.25 / math.sqrt(2.0)) < 2e-4,
      s"sine rms=${rsn.getDouble(8)}") // quantization-limited
    val rst = rows("https://au.example.org/st.wav")
    assert(rst.getBoolean(11) && rst.getInt(4) == 2 && rst.getLong(6) == 400L)
    assert(math.abs(rst.getDouble(8) - 0.5) < 1e-4,
      "stereo duplicate channels keep the RMS")
    // truncated WAV (header-level AND mid-data) and non-audio payloads:
    // labeled fallback, zeroed stats
    for (u <- Seq("https://au.example.org/cut.wav",
        "https://au.example.org/midcut.wav", "https://au.example.org/html")) {
      val r = rows(u)
      assert(!r.getBoolean(11) && r.getDouble(8) == 0.0 && r.getInt(3) == 0, u)
    }
    // determinism
    val again = MultimodalFunctions.audioMeta(pages).collect().map(_.toString).sorted
    assert(again.toSeq == rows.values.map(_.toString).toSeq.sorted)
  }

  test("audioMeta: audioPages fixture set decodes per its index rule") {
    val rows = MultimodalFunctions.audioMeta(CorpusSource.audioPages(spark, 42))
      .collect().map(r => r.getString(0) -> r.getBoolean(11)).toMap
    for ((url, dec) <- rows) {
      val idx = url.drop(url.length - 4).toInt
      val want = !(idx % 6 == 5 || idx % 7 == 6)
      assert(dec == want, s"$url decoded=$dec want=$want")
    }
    assert(rows.values.count(identity) > 0 && rows.values.count(!_) > 0)
  }

  test("mediaMeta: mediaPages real-image rounds decode with authored dims") {
    val pages = CorpusSource.mediaPages(spark, 24)
    val rows = MultimodalFunctions.mediaMeta(pages).collect()
      .map(r => r.getString(0) -> ((r.getInt(4), r.getInt(5), r.getBoolean(7)))).toMap
    for ((url, (w, h, dec)) <- rows) {
      val idx = url.drop(url.length - 4).toInt
      assert((w, h) == CorpusSource.mediaDims(idx), url)
      assert(dec == ((idx / 4) % 2 == 1), s"$url decoded=$dec") // real rounds decode
    }
    assert(rows.count(_._2._3) == 12)
  }
}
