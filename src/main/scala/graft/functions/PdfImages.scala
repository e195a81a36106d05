package graft.functions

import org.apache.spark.sql.Dataset

import graft.extract.ExtractConfig
import graft.model.PageRow
import graft.pdf.{PdfBranch, RealPdf}

/** Embedded-image mining over PDF payloads — the graft of the reference's
  * figure-region handling: layout "figure" regions are cropped, saved next to
  * their text, and re-linked during assembly
  * (ppstructure/predict_system.py:118-130,
  * ppstructure/recovery/recovery_to_markdown.py picture branch). Here the
  * figures already exist as image XObjects inside the PDF, so extraction is
  * exact: each XObject becomes a row carrying the RAW payload bytes (a
  * /DCTDecode stream IS a complete JPEG file), its dict dims, header-parse
  * dims cross-checked through [[ImageHeaders]], its placement rect from the
  * content stream's CTM, and the nearest text block below the placement as
  * the caption candidate — the image–text pairing a multimodal training-data
  * pipeline mines.
  *
  * Scale shape: one row-local flatMap — zero shuffle, embarrassingly parallel
  * at any corpus size; rows carry binary + metadata, never decoded pixels.
  */
object PdfImages {

  /** Max vertical gap (pt) between an image's bottom edge and a text block's
    * top edge for the block to qualify as the caption (≈ 3 lines of 12pt
    * body text — captions sit directly under their figure). */
  val captionMaxGap: Double = 40.0

  final case class PdfImageRow(
      url: String, page: Int, img_name: String, obj_num: Int,
      dict_w: Int, dict_h: Int, bpc: Int, color_space: String, filter: String,
      /** sniffed container of the raw bytes ("jpeg"/"png"/"gif"/"bmp") or
        * "raw" when the stream is bare samples (e.g. FlateDecode gray). */
      format: String,
      /** header-parse dims; -1 when the payload has no container header. */
      header_w: Int, header_h: Int,
      /** true iff a container header parsed AND agrees with the dict dims —
        * the cross-check that catches corrupt or mislabeled streams. */
      dims_agree: Boolean,
      n_bytes: Long, img_md5: String, placed: Boolean,
      x: Double, y_top: Double, draw_w: Double, draw_h: Double,
      caption: String, img: Array[Byte])

  private def md5Hex(b: Array[Byte]): String = {
    val d = java.security.MessageDigest.getInstance("MD5").digest(b)
    val sb = new java.lang.StringBuilder(32)
    for (x <- d) sb.append(String.format(java.util.Locale.ROOT, "%02x", Byte.box(x)))
    sb.toString
  }

  private def sniff(b: Array[Byte]): String =
    if (ImageHeaders.isPng(b)) "png"
    else if (ImageHeaders.isGif(b)) "gif"
    else if (ImageHeaders.isJpeg(b)) "jpeg"
    else if (ImageHeaders.isBmp(b)) "bmp"
    else "raw"

  /** Caption candidate: among the page's text blocks with horizontal overlap,
    * the one whose top edge is closest BELOW the image's bottom edge (both in
    * top-down coords) within [[captionMaxGap]]; "" when none qualifies. */
  private def captionFor(im: RealPdf.PdfImage, page: RealPdf.Page): String = {
    if (!im.placed) return ""
    val bottom = im.yTop + im.drawH
    var best: String = ""
    var bestGap = captionMaxGap
    for (b <- page.blocks) {
      val gap = b.y - bottom
      val overlaps = b.x < im.x + im.drawW && b.x + math.max(b.w, 1) > im.x
      if (gap >= 0 && gap <= bestGap && overlaps) { bestGap = gap; best = b.text }
    }
    best
  }

  /** All embedded images of the corpus's PDF payloads, one row per XObject
    * occurrence (payloads byte-capped like the text branch, so a hostile
    * multi-GB input can't pin an executor). Non-PDF rows contribute nothing. */
  def imageTable(pages: Dataset[PageRow],
                 cfg: ExtractConfig = ExtractConfig()): Dataset[PdfImageRow] = {
    import pages.sparkSession.implicits._
    pages.flatMap { row =>
      val payload = row.html
      if (payload == null || !PdfBranch.isPdf(payload) || !RealPdf.isReal(payload))
        Iterator.empty
      else {
        RealPdf.parse(cfg.capped(payload), cfg.maxPdfPages) match {
          case None => Iterator.empty
          case Some(parsed) =>
            parsed.images.iterator.map { im =>
              val fmt = sniff(im.data)
              val hd = ImageHeaders.dims(im.data)
              PdfImageRow(row.url, im.page, im.name, im.objNum,
                im.width, im.height, im.bitsPerComponent, im.colorSpace,
                im.filter, fmt,
                hd.map(_.width).getOrElse(-1), hd.map(_.height).getOrElse(-1),
                hd.exists(d => d.width == im.width && d.height == im.height),
                im.data.length.toLong, md5Hex(im.data), im.placed,
                im.x, im.yTop, im.drawW, im.drawH,
                captionFor(im, parsed.pages(im.page)), im.data)
            }
        }
      }
    }
  }
}
