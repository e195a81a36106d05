package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.corpus.{MediaFixtures, RealPdfGen}
import graft.corpus.RealPdfGen.{PageSpec, Placed, PlacedImage}

/** Pins the exact bytes every public `RealPdfGen` builder writes on fixed
  * inputs. The golden corpus (F06/F12), Bench's corpus cache key and the
  * planted mega PDFs of perfbench are all generator output, so a rewrite of
  * the writer must leave each SHA-256 below unchanged. */
class RealPdfGenBytesSpec extends AnyFunSuite {

  private def sha(b: Array[Byte]): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(b)
      .map(x => f"${x & 0xff}%02x").mkString

  private def check(expected: (String, Array[Byte], String)*): Unit =
    for ((name, bytes, want) <- expected)
      assert(sha(bytes) == want, s"$name: ${bytes.length} bytes, sha ${sha(bytes)}")

  // two pages, one compressed and one raw; multi-line blocks take both show
  // forms (literal and hex TJ), and the text carries every escaped char
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

  // 60 raw pages of 12 blocks each: object offsets run past 64 KiB
  private val large = (0 until 60).map { i =>
    PageSpec(612, 792, (0 until 12).map { k =>
      Placed(40 + (k % 2) * 280, 40 + 60 * (k / 2), 10,
        RealPdfGen.wrap(s"Page $i block $k: the quick brown fox (jumps) over the lazy dog.", 30))
    }, compress = false)
  }

  test("build and buildLzw keep their bytes on compressed and raw pages") {
    check(
      ("build mixed", RealPdfGen.build(mixed),
        "0302deb4cce76c67ac4c4117889d2b2831fadd7e1818f678cf6eeaedee82662e"),
      ("build compressed", RealPdfGen.build(compressed),
        "5fe7474639d1101ba61a03ad5b18a411c005113d62b027c711926f8e3160744d"),
      ("build raw", RealPdfGen.build(raw),
        "8dcfa8f28c5ae4c21d4abeafcc34e4ea9ccf5e490ebbfd12c7a54f12e369863e"),
      ("buildLzw mixed", RealPdfGen.buildLzw(mixed),
        "0a91c08223037d8f0f3fea104bed78c3a4352cff7d27f78a027b213858eed8b4"),
      ("buildLzw compressed", RealPdfGen.buildLzw(compressed),
        "ff28336deed272a22b484cb70c8db79e891ec01ec350769d8b06c7f86cbc176f"),
      ("build(flate) == build", RealPdfGen.build(mixed, "flate"),
        "0302deb4cce76c67ac4c4117889d2b2831fadd7e1818f678cf6eeaedee82662e"))
  }

  test("buildObjStm, buildObjStmPredicted and buildObjStmRotated keep their bytes") {
    check(
      ("buildObjStm", RealPdfGen.buildObjStm(mixed),
        "e7ab7720f12fc2b56ca716e9389bf8f851b78a5649ec46219a5e743c80640e61"),
      ("buildObjStmPredicted", RealPdfGen.buildObjStmPredicted(mixed),
        "b97f87e8ab7f98a2b653b4357f1240e3200682e3095ba901c390a843655425a7"),
      ("buildObjStmRotated 90", RealPdfGen.buildObjStmRotated(mixed, 90),
        "6a3af659a5d25891fac2d4c9187cd00f07973499b025613eda2253e0064ac545"),
      ("buildObjStmRotated 180", RealPdfGen.buildObjStmRotated(mixed, 180),
        "464667a9eb3009921a95fe6d02da33c273b3465c8538debc0f226ff385a5e5da"),
      ("buildObjStmRotated 270", RealPdfGen.buildObjStmRotated(mixed, 270),
        "7271029c35e7cf6d2a7000f153e6412b4fdac8df0202b0a052f3ff3b563168f2"))
  }

  test("buildRotated keeps its bytes for every rotation and /Rotate placement") {
    check(
      ("buildRotated 90 page", RealPdfGen.buildRotated(mixed, 90),
        "77d95e9300ceb30ecb9d47353048286cc6b6adf890088d05f775ca964fee5b4a"),
      ("buildRotated 180 page", RealPdfGen.buildRotated(mixed, 180),
        "2ca2f3bb10fec9dff58a12c807886e768c8f4061fe542c92fcf89683b8bc7c67"),
      ("buildRotated 270 page", RealPdfGen.buildRotated(mixed, 270),
        "82cd19cf03a514715bf812da5800c88eed20464cbae61eb483beaf73898c5701"),
      ("buildRotated 90 inherited", RealPdfGen.buildRotated(mixed, 90, inheritRotate = true),
        "591e782074de001c90c66d7d1eb2873f2ee3ee76fea3abc69b12cf33b46120a0"),
      ("buildRotated 180 inherited", RealPdfGen.buildRotated(mixed, 180, inheritRotate = true),
        "3f8a02ea794ea67b1c7ca2294e25b2197ead4d2a3cd1d05086db29a81fdca537"),
      ("buildRotated 270 inherited", RealPdfGen.buildRotated(mixed, 270, inheritRotate = true),
        "0db790136cc7f1f3228f056afbd333dcc35060af9dd3c89083cecbb51d3af07c"),
      ("buildRotated 90 indirect", RealPdfGen.buildRotated(mixed, 90, indirectRotate = true),
        "29ecddeb7e98ac24e56befea3b247c2fdc7726f3efe599044a51aafa34924a31"),
      ("buildRotated 180 indirect", RealPdfGen.buildRotated(mixed, 180, indirectRotate = true),
        "b4bc25ef8894191ceff46a4a29f27ccae4be0e8db9014c074bc99140fde2316a"),
      ("buildRotated 270 indirect", RealPdfGen.buildRotated(mixed, 270, indirectRotate = true),
        "0aeeec4d08a2257ad88258d5077df202e0a145d339e05c86d9fd34d9ffd0ff0c"))
  }

  test("buildToUnicode, buildEncodedDiff and buildIdentityCid keep their bytes") {
    check(
      ("buildToUnicode", RealPdfGen.buildToUnicode(mixed),
        "d52f709855b7f18b0b6d6e9736d3e1ad2677afe3dd29194d8182ba664688e0f3"),
      ("buildEncodedDiff", RealPdfGen.buildEncodedDiff(mixed),
        "e4dfee82ce23b90f4480c8be334f960dbf58212b8128f908d47eab1568170a19"),
      ("buildIdentityCid", RealPdfGen.buildIdentityCid(mixed),
        "2ba2932f14ee43f2e39966943a151c017acf13634a8ca71a1bf78cbdfb212ba9"))
  }

  test("buildIdentityCidEmbedded keeps its bytes with cmap formats 4 and 12") {
    val cid = "Embedded CID text"
    check(
      ("buildIdentityCidEmbedded 4", RealPdfGen.buildIdentityCidEmbedded(mixed, cid),
        "3e8c8cb0de238d04db6512c50cd5f64b1fb964022da25eab97757969e43b1bc3"),
      ("buildIdentityCidEmbedded 12",
        RealPdfGen.buildIdentityCidEmbedded(mixed, cid, cmapFormat = 12),
        "1891e5130657d59d9fd1bba6ada5b4ae2ede3ec42035b5685360965323ddfdd3"))
  }

  test("buildWithImages keeps its bytes with DCT and gray images") {
    val gray = Array.tabulate[Byte](8 * 6)(i => (i * 5).toByte)
    val pages = Seq(
      (mixed(0), Seq(
        PlacedImage(72, 300, 200, 150, 64, 48, MediaFixtures.jpeg(64, 48), dct = true),
        PlacedImage(300, 300, 80, 60, 8, 6, gray, dct = false))),
      (mixed(1), Seq.empty),
      (mixed(1), Seq(PlacedImage(10, 20, 16, 12, 8, 6, gray, dct = false))))
    check(("buildWithImages", RealPdfGen.buildWithImages(pages),
        "1a25c099dc4ec900e9fbb9a1935cc3e91a9940e818239cadd97fd90df7fd45f8"))
  }

  test("a 60-page file with offsets past 64 KiB keeps its bytes") {
    val plain = RealPdfGen.build(large)
    assert(plain.length > 65536)
    check(
      ("build large", plain,
        "0800820f2ba7991139eebca4bda527cbfa382c373450269944d79ca9cd5e4b04"),
      ("buildObjStm large", RealPdfGen.buildObjStm(large),
        "4323700698a5b3183b7152a1539c5dbd238ebb8b12c0160fd39150f3dfe576ab"),
      ("buildRotated 270 indirect large",
        RealPdfGen.buildRotated(large, 270, indirectRotate = true),
        "06edba40407cb88631de856484616ad2407288bb7617d3304713330e9300f5cc"),
      ("buildToUnicode large", RealPdfGen.buildToUnicode(large),
        "15e1a147dabb834c0f1cf6fb543c4bf8bba02e1cea5476017cf7d0d20999e9ae"))
  }

  test("build rejects a codec name other than flate or lzw") {
    for (bad <- Seq("LZW", "lzw ", "Flate", "x", ""))
      assertThrows[IllegalArgumentException](RealPdfGen.build(mixed, bad))
  }
}
