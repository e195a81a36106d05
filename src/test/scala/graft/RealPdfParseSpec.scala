package graft

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{MediaFixtures, RealPdfGen}
import graft.corpus.RealPdfGen.{PageSpec, Placed, PlacedImage}
import graft.pdf.RealPdf
import graft.pipeline.CorpusSource

/** Pins the full `RealPdf.parse` result on every RealPdfGen builder shape and
  * on the image-bearing corpus fixtures: one SHA-256 per input over a
  * canonical rendering of pages, blocks (geometry, text, provenance offsets),
  * the status counters and every image (fields, data digest, placement). A
  * rewrite of the parser's lexical layer must leave each digest unchanged. */
class RealPdfParseSpec extends AnyFunSuite {
  import RealPdfParseSpec._

  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[2]")
    .config("spark.sql.shuffle.partitions", "2")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private def check(expected: (String, Array[Byte], String)*): Unit = {
    val bad = expected.collect {
      case (name, pdf, want) if digest(pdf) != want => s"$name -> ${digest(pdf)}"
    }
    assert(bad.isEmpty, bad.mkString("\n"))
  }

  private val mixed = Seq(
    PageSpec(612, 792, Seq(
      Placed(72, 60, 18, Seq("A (parenthesized) title")),
      Placed(72, 120, 11, Seq("Back\\slash and fi ligature line one,", "line two é,",
        "line three (three).")),
      Placed(320, 120, 11, Seq("Right column."))), compress = true),
    PageSpec(595, 842, Seq(
      Placed(50, 80, 12, Seq("Second page, raw stream.", "Another line."))),
      compress = false))
  private val compressed = mixed.map(_.copy(compress = true))
  private val raw = mixed.map(_.copy(compress = false))
  private val large = (0 until 60).map { i =>
    PageSpec(612, 792, (0 until 12).map { k =>
      Placed(40 + (k % 2) * 280, 40 + 60 * (k / 2), 10,
        RealPdfGen.wrap(s"Page $i block $k: the quick brown fox (jumps) over the lazy dog.", 30))
    }, compress = false)
  }

  test("classic, LZW and object-stream layouts parse to their pinned results") {
    check(
      ("build mixed", RealPdfGen.build(mixed),
        "76864d17970db1de1741b185bb45bded715ba783edfda87913c6fc1f5642a7ab"),
      ("build compressed", RealPdfGen.build(compressed),
        "76864d17970db1de1741b185bb45bded715ba783edfda87913c6fc1f5642a7ab"),
      ("build raw", RealPdfGen.build(raw),
        "ee8ac6bd0dbee717ffa62f95513d788c50f8ae2bb7ba9b69a59dc48232481b62"),
      ("buildLzw mixed", RealPdfGen.buildLzw(mixed),
        "7b46011903e60a5b9b6c724e7e00783a24565ca4fbc11d5cb4683b3cd07c0dd9"),
      ("buildLzw compressed", RealPdfGen.buildLzw(compressed),
        "7b46011903e60a5b9b6c724e7e00783a24565ca4fbc11d5cb4683b3cd07c0dd9"),
      ("build(flate)", RealPdfGen.build(mixed, "flate"),
        "76864d17970db1de1741b185bb45bded715ba783edfda87913c6fc1f5642a7ab"),
      ("buildObjStm", RealPdfGen.buildObjStm(mixed),
        "09119ce8200663ddb61edf05ad4beb7b61b0ddae900bcad172d560fd6db38671"),
      ("buildObjStmPredicted", RealPdfGen.buildObjStmPredicted(mixed),
        "09119ce8200663ddb61edf05ad4beb7b61b0ddae900bcad172d560fd6db38671"),
      ("buildObjStmRotated 90", RealPdfGen.buildObjStmRotated(mixed, 90),
        "7bf4cb5c6a3995dff0ccdcd34bc66c4f3dea867d50c6070b8629f0b303449d4d"),
      ("buildObjStmRotated 180", RealPdfGen.buildObjStmRotated(mixed, 180),
        "0f6edffd3322e07f820d736ac5cc516faa6d095c90f40fe3dfff01c3267e7b47"),
      ("buildObjStmRotated 270", RealPdfGen.buildObjStmRotated(mixed, 270),
        "4ae4be23e29b0882a4be66e2adb6d2979ca4a2619c20378efa6cce6720ccd794"))
  }

  test("rotated pages parse to their pinned results") {
    check(
      ("buildRotated 90 page", RealPdfGen.buildRotated(mixed, 90),
        "4e7663882f081bedd19c8cdd81ca262c5e41bbdea4c27e72091fc492d6875b1c"),
      ("buildRotated 180 page", RealPdfGen.buildRotated(mixed, 180),
        "be4ed87d4350fe31afd955126d0b78f7a3e33bed5376f70609d20e7801a071b1"),
      ("buildRotated 270 page", RealPdfGen.buildRotated(mixed, 270),
        "de9eef642eae59d7b9a4c4338adfaea14304fd2f0fe997c7624faf3b1a2e83b5"),
      ("buildRotated 90 inherited", RealPdfGen.buildRotated(mixed, 90, inheritRotate = true),
        "ad3e8597af03927748eddf9405bd51853e42bbd1ed85c6bd288e38abd29222a0"),
      ("buildRotated 180 inherited", RealPdfGen.buildRotated(mixed, 180, inheritRotate = true),
        "a489970c7d99a304acc15eb9f48df19ef18f395204b03543052388e3558a8fda"),
      ("buildRotated 270 inherited", RealPdfGen.buildRotated(mixed, 270, inheritRotate = true),
        "1e11ce9e52c1c7adbb32de26c5a52c0029af561535c38c492dff8289112bdc20"),
      ("buildRotated 90 indirect", RealPdfGen.buildRotated(mixed, 90, indirectRotate = true),
        "e0eb9d1a745e1d15dafe7a780a87f793a3213491f3362b365f3927f3d7849bec"),
      ("buildRotated 180 indirect", RealPdfGen.buildRotated(mixed, 180, indirectRotate = true),
        "e0eb9d1a745e1d15dafe7a780a87f793a3213491f3362b365f3927f3d7849bec"),
      ("buildRotated 270 indirect", RealPdfGen.buildRotated(mixed, 270, indirectRotate = true),
        "e2da21ab49172b5ff090529169a369baf7ca18bc6f2eefcf3c7f10d50bb81372"))
  }

  test("font encodings, CID fonts and images parse to their pinned results") {
    val cid = "Embedded CID text"
    val gray = Array.tabulate[Byte](8 * 6)(i => (i * 5).toByte)
    val withImages = Seq(
      (mixed(0), Seq(
        PlacedImage(72, 300, 200, 150, 64, 48, MediaFixtures.jpeg(64, 48), dct = true),
        PlacedImage(300, 300, 80, 60, 8, 6, gray, dct = false))),
      (mixed(1), Seq.empty),
      (mixed(1), Seq(PlacedImage(10, 20, 16, 12, 8, 6, gray, dct = false))))
    check(
      ("buildToUnicode", RealPdfGen.buildToUnicode(mixed),
        "b1eaa981f925518229bf0a6b815557b99f02723744c600a3fec7e830095235ce"),
      ("buildEncodedDiff", RealPdfGen.buildEncodedDiff(mixed),
        "0d02516dfe73679ca63b677a5b559fa329b0b8046375804767f1771f4997d7e6"),
      ("buildIdentityCid", RealPdfGen.buildIdentityCid(mixed),
        "bd4405669c596e7c8336329126deed0d115a82d3e3f96e1cc4c71063b249384e"),
      ("buildIdentityCidEmbedded 4", RealPdfGen.buildIdentityCidEmbedded(mixed, cid),
        "dc03ce76067cb81217c3089203be01149a82e1d2f0b9ce25c8a3b66e97df6631"),
      ("buildIdentityCidEmbedded 12",
        RealPdfGen.buildIdentityCidEmbedded(mixed, cid, cmapFormat = 12),
        "dc03ce76067cb81217c3089203be01149a82e1d2f0b9ce25c8a3b66e97df6631"),
      ("buildWithImages", RealPdfGen.buildWithImages(withImages),
        "7c889bbbac667c5f8d46a82b267180eed467032381b24edf0fc306902c87af0b"))
  }

  test("a 60-page file past the page cap parses to its pinned results") {
    check(
      ("build large", RealPdfGen.build(large),
        "828f6d37363019193296576d5bc2a31a227884b493800bf5937b10454ffbb56d"),
      ("buildObjStm large", RealPdfGen.buildObjStm(large),
        "1b45c60c6c6c522f14fbbedd37a06f67c4737f446050d806137a6ccd177f93c8"),
      ("buildRotated 270 indirect large",
        RealPdfGen.buildRotated(large, 270, indirectRotate = true),
        "11d5e6f2aa8add77074c4e53a565facf3ed2993fe6e2e3a40d214d43f3bfeb8a"),
      ("buildToUnicode large", RealPdfGen.buildToUnicode(large),
        "b8df8918ad9151a55eb335fbf96ded12d0b61150aa2f672fa65b0db0f38ecc9d"))
  }

  test("the image-bearing corpus fixtures parse to their pinned results") {
    val rows = CorpusSource.pdfImagePages(spark, 6).collect().sortBy(_.url)
    val want = Seq(
      "562f7695ca764ab40f690c1b0a96bb67196ee8e4104305f9ced6fabc35a7d20b",
      "25d0b458a5fc91c84cf6199ca5e3a8472bdefa2e3277b81d3909c2009e8b107d",
      "be9e2088e8396995ca5682c352f3b04d6dd11d0b287cf4158cbf5bb5e5037970",
      "4e9095a365adbd62fc94e39728de31401352377cb023ac083ca9d3d8e3818923",
      "4099685a84e490e85b3e1ceb7a31de6e7c1577d172767113fd9537f6623318f9",
      "78dcf2e0363a2c9134b9a6a7810e8f31986b8bcf42f89f770a4e00393d4e9703")
    check(rows.zip(want).map { case (r, w) => (r.url, r.html, w) }.toIndexedSeq: _*)
  }
}

object RealPdfParseSpec {
  /** The page cap every pin parses under: the 60-page inputs cross it. */
  val MaxPages = 50

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  /** Canonical text of one parse result ("none" for a structural failure). */
  def render(parsed: Option[RealPdf.Parsed]): String = parsed match {
    case None => "none"
    case Some(p) =>
      val sb = new StringBuilder
      sb ++= s"decodeFailures=${p.decodeFailures} unmappedShows=${p.unmappedShows} " +
        s"pagesTruncated=${p.pagesTruncated} rotatedPages=${p.rotatedPages}\n"
      for (pg <- p.pages) {
        sb ++= s"page ${pg.pageW} ${pg.pageH}\n"
        for (b <- pg.blocks)
          sb ++= s"block ${b.x} ${b.y} ${b.w} ${b.h} ${b.off} ${b.end} ${b.text}\n"
      }
      for (im <- p.images)
        sb ++= s"image ${im.page} ${im.objNum} ${im.name} ${im.width} ${im.height} " +
          s"${im.bitsPerComponent} ${im.colorSpace} ${im.filter} ${sha(im.data)} " +
          s"${im.x} ${im.yTop} ${im.drawW} ${im.drawH} ${im.placed}\n"
      sb.toString
  }

  /** SHA-256 of the canonical rendering of `RealPdf.parse(pdf, MaxPages)`. */
  def digest(pdf: Array[Byte]): String =
    sha(render(RealPdf.parse(pdf, MaxPages)).getBytes(StandardCharsets.UTF_8))
}
