package graft.functions

/** Header-only image dimension parsing — no codec needed: PNG IHDR, JPEG
  * SOFn marker scan, GIF logical screen descriptor, BMP info header are all
  * plain byte reads from the public file-format specs. The graft of the
  * reference's DecodeImage returning real (h, w) per payload
  * (ppocr/data/imaug/operators.py:29-61) — pixels still need codecs (stubbed
  * elsewhere, clearly labeled), but DIMENSIONS never did.
  */
object ImageHeaders {

  final case class Dims(width: Int, height: Int)

  private def be16(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 8) | (b(i + 1) & 0xff)
  private def be32(b: Array[Byte], i: Int): Int =
    ((b(i) & 0xff) << 24) | ((b(i + 1) & 0xff) << 16) |
      ((b(i + 2) & 0xff) << 8) | (b(i + 3) & 0xff)
  private def le16(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], i: Int): Int =
    (b(i) & 0xff) | ((b(i + 1) & 0xff) << 8) |
      ((b(i + 2) & 0xff) << 16) | ((b(i + 3) & 0xff) << 24)

  def isPng(b: Array[Byte]): Boolean =
    b != null && b.length >= 8 && (b(0) & 0xff) == 0x89 && b(1) == 'P' &&
      b(2) == 'N' && b(3) == 'G' && b(4) == 0x0d && b(5) == 0x0a &&
      b(6) == 0x1a && b(7) == 0x0a

  def isJpeg(b: Array[Byte]): Boolean =
    b != null && b.length >= 3 && (b(0) & 0xff) == 0xff &&
      (b(1) & 0xff) == 0xd8 && (b(2) & 0xff) == 0xff

  def isGif(b: Array[Byte]): Boolean =
    b != null && b.length >= 6 && b(0) == 'G' && b(1) == 'I' && b(2) == 'F' &&
      b(3) == '8' && (b(4) == '7' || b(4) == '9') && b(5) == 'a'

  def isBmp(b: Array[Byte]): Boolean =
    b != null && b.length >= 26 && b(0) == 'B' && b(1) == 'M'

  /** PNG: the IHDR chunk is REQUIRED to be first (W3C PNG §11.2.2) — width
    * and height are the two big-endian int32s at offsets 16 and 20. */
  private def pngDims(b: Array[Byte]): Option[Dims] =
    if (b.length >= 24 && b(12) == 'I' && b(13) == 'H' && b(14) == 'D' && b(15) == 'R') {
      val w = be32(b, 16); val h = be32(b, 20)
      if (w > 0 && h > 0) Some(Dims(w, h)) else None
    } else None

  /** JPEG: walk the marker segments (each FF xx + big-endian length that
    * includes itself) until a start-of-frame SOFn marker (C0-CF except the
    * non-frame C4/C8/CC); the frame header is [len][precision][height:2]
    * [width:2] (ITU T.81 §B.2.2). Entropy-coded data never precedes the
    * first SOF, so the scan is linear in the header bytes only. */
  private def jpegDims(b: Array[Byte]): Option[Dims] = {
    var i = 2
    while (i + 3 < b.length) {
      if ((b(i) & 0xff) != 0xff) return None // lost sync
      var m = b(i + 1) & 0xff
      while (m == 0xff && i + 2 < b.length) { i += 1; m = b(i + 1) & 0xff } // fill bytes
      if (m == 0xd8 || (m >= 0xd0 && m <= 0xd7) || m == 0x01) {
        i += 2 // standalone marker, no segment body
      } else if (m >= 0xc0 && m <= 0xcf && m != 0xc4 && m != 0xc8 && m != 0xcc) {
        return if (i + 8 < b.length) {
          val h = be16(b, i + 5); val w = be16(b, i + 7)
          if (w > 0 && h > 0) Some(Dims(w, h)) else None
        } else None
      } else {
        if (i + 3 >= b.length) return None
        val len = be16(b, i + 2)
        if (len < 2) return None
        i += 2 + len
      }
    }
    None
  }

  /** GIF: logical screen width/height are the little-endian uint16s at
    * offsets 6 and 8 (GIF89a spec §18). */
  private def gifDims(b: Array[Byte]): Option[Dims] =
    if (b.length >= 10) {
      val w = le16(b, 6); val h = le16(b, 8)
      if (w > 0 && h > 0) Some(Dims(w, h)) else None
    } else None

  /** BMP: dispatch on the DIB header size at offset 14 — BITMAPINFOHEADER
    * (40+) and the OS/2 BITMAPINFOHEADER2 short forms (16..64) carry int32
    * width/height at 18/22 (negative height = top-down rows, dimensions are
    * the absolute value); the OS/2 BITMAPCOREHEADER (12) carries uint16
    * width/height at 18/20 — reading it with the int32 layout would fuse
    * width|height into one garbage dimension. */
  private def bmpDims(b: Array[Byte]): Option[Dims] =
    if (b.length >= 26) {
      le32(b, 14) match {
        case 12 =>
          val w = le16(b, 18); val h = le16(b, 20)
          if (w > 0 && h > 0) Some(Dims(w, h)) else None
        case sz if sz >= 16 =>
          val w = le32(b, 18); val h = math.abs(le32(b, 22))
          if (w > 0 && h > 0) Some(Dims(w, h)) else None
        case _ => None
      }
    } else None

  /** Real dimensions for any recognized image container, else None (caller
    * falls back to its labeled stub). */
  def dims(b: Array[Byte]): Option[Dims] =
    if (isPng(b)) pngDims(b)
    else if (isGif(b)) gifDims(b)
    else if (isJpeg(b)) jpegDims(b)
    else if (isBmp(b)) bmpDims(b)
    else None
}
