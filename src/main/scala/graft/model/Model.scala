package graft.model

import java.sql.Timestamp

/** Core data model for the extraction engine.
  *
  * Mirrors the reference's staged dataflow abstractions (SURVEY.md §1.1):
  *  - PageRow      ≡ the corpus row (BASELINE.json input_hint shape; the reference's
  *                   per-file image payload, ppocr/utils/utility.py:119-152)
  *  - Span         ≡ "det box" [4,2] quad → recast as a byte-offset range with a
  *                   tag path (tools/infer/predict_det.py:182-199)
  *  - Block        ≡ OCR line record {text, confidence, text_region}
  *                   (ppstructure/predict_system.py:236-252)
  *  - ExtractedDoc ≡ structure result: assembled markdown/text + typed regions
  *                   (ppstructure/recovery/recovery_to_markdown.py:129-187)
  */
final case class PageRow(
    url: String,
    warc_ts: Timestamp,
    html: Array[Byte],
    text: String,
    lang: String
)

/** A classified block of a document.
  *
  * `start`/`end` are byte offsets into the raw `html` payload (the tokenizer is
  * offset-preserving: offsets always refer to input bytes, never to decoded text —
  * the analog of the reference's det boxes living in source-image coordinates after
  * the rescale at ppocr/postprocess/db_postprocess.py:228-256).
  */
final case class Span(
    blockIdx: Int,
    tagPath: String,
    start: Int,
    end: Int,
    label: String,
    score: Double,
    text: String
)

final case class ExtractedDoc(
    url: String,
    text: String,
    nSpans: Int,
    spans: Seq[Span],
    charset: String,
    truncated: Boolean,
    /** "ok" | "pdf_partial" (some PDF content streams failed to decode — the
      * text is missing those pages) | "pdf_unparsed" (nothing decodable).
      * Decode loss is recorded, never silent. */
    status: String = "ok"
)
