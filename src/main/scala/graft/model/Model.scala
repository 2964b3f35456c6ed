package graft.model

/** Data model for the Spark-native extraction engine.
  *
  * Mirrors the reference's dataclasses (reference: smartextractor/models.py:11-229)
  * re-expressed as Scala case classes with Spark-derivable Encoders.
  * The two runtime-invented attributes of the reference
  * (`_column_processed`, layout_processor.py:218; `column_id`,
  * layout_processor.py:317,331) are explicit fields here.
  */

/** One element of the interleaved span stream (driver I/O contract).
  * kind in {text, image} on input; output adds "table". */
final case class Span(kind: String, text: String, media_ref: String, offset: Int)

/** Input row: one document = one span array. */
final case class RawDoc(doc_id: String, spans: Seq[Span])

/** Text block (reference: models.py:11-22 + column_id/layout quirks). */
final case class TextBlock(
    text: String,
    bbox: Seq[Double], // [x0, top, x1, bottom]; empty Seq = "no bbox"
    confidence: Double = 1.0,
    font_size: Option[Double] = None,
    font_family: Option[String] = None,
    is_bold: Boolean = false,
    is_italic: Boolean = false,
    block_type: String = "text",
    column_id: Int = -1
) {
  def hasBBox: Boolean = bbox != null && bbox.length >= 4
}

/** Table cell (reference: models.py:25-34). */
final case class TableCell(
    text: String,
    row: Int,
    col: Int,
    bbox: Seq[Double] = Seq(0d, 0d, 0d, 0d),
    confidence: Double = 1.0,
    is_header: Boolean = false
)

/** Table (reference: models.py:37-83). */
final case class TableResult(
    cells: Seq[TableCell],
    rows: Int,
    cols: Int,
    bbox: Seq[Double] = Seq(0d, 0d, 0d, 0d),
    confidence: Double = 1.0,
    page_number: Int = 0
) {
  /** Dense rows x cols grid (reference: models.py:48-62 to_dataframe) —
    * missing cells become empty strings. */
  def toGrid: Seq[Seq[String]] = {
    val grid = Array.fill(rows, cols)("")
    cells.foreach { c =>
      if (c.row >= 0 && c.row < rows && c.col >= 0 && c.col < cols)
        grid(c.row)(c.col) = c.text
    }
    grid.map(_.toSeq).toSeq
  }
}

/** Image (reference: models.py:86-106; image_path == media_ref here). */
final case class ImageResult(
    media_ref: String,
    bbox: Seq[Double],
    page_number: Int,
    image_type: String = "image",
    extracted_text: Option[String] = None,
    confidence: Double = 1.0
)

/** Page result (reference: models.py:109-146). */
final case class PageResult(
    page_number: Int,
    text_blocks: Seq[TextBlock] = Nil,
    tables: Seq[TableResult] = Nil,
    images: Seq[ImageResult] = Nil,
    width: Double = 0d,
    height: Double = 0d,
    column_processed: Boolean = false
) {
  /** reference: models.py:120-123 */
  def text: String = text_blocks.map(_.text).mkString("\n")
}

object PageResult {
  /** Block-type selector (reference: models.py:209-216 get_text_by_type). */
  def textByType(page: PageResult, blockType: String): Seq[String] =
    page.text_blocks.filter(_.block_type == blockType).map(_.text)
}

/** Stable quarantine/error taxonomy for the contract's error_code column
  * (the reference throws typed exceptions instead — exceptions.py via
  * core.py:111-116; on executors we encode them). */
object ErrorCode {
  val Ok = "" // not quarantined
  val NullDocId = "null_doc_id" // no primary key — row unusable
  val Encrypted = "encrypted" // reference: pdf_processor.py:97-102 sniffs
  // "password"/"encrypted" in the parse error and raises
  // PDFPasswordProtectedError; we sniff the same markers
  val ParseError = "parse_error" // any other kernel failure

  /** The reference's encryption sniff (pdf_processor.py:99): "password" or
    * "encrypted" in the lowered error string. */
  def ofThrowable(e: Throwable): String = {
    val msg = String.valueOf(e.getMessage).toLowerCase
    if (msg.contains("password") || msg.contains("encrypted")) Encrypted else ParseError
  }
}

/** Document-level extraction result (reference: models.py:149-229) plus the
  * driver-facing output span projection and quarantine fields.
  *
  * `metadata` mirrors the reference's doc-info map + num_pages + file_size
  * (pdf_processor.py:108-125; file_size here = total input span text chars,
  * the byte-stream analog). `processing_time` (models.py:158) and
  * `extraction_date` (models.py:159, epoch micros) are measurement fields —
  * excluded from span-equality and checksum comparisons exactly as the
  * reference excludes them from to_dict fixture comparisons. */
final case class DocResult(
    doc_id: String,
    text: String,
    pages: Seq[PageResult],
    tables: Seq[TableResult],
    images: Seq[ImageResult],
    spans: Seq[Span],
    num_pages: Int,
    quarantined: Boolean = false,
    error: String = "",
    error_code: String = ErrorCode.Ok,
    is_encrypted: Boolean = false,
    metadata: Map[String, String] = Map.empty,
    processing_time: Double = 0.0,
    extraction_date: Long = 0L
) {
  /** Page-keyed lookups (reference: models.py:218-229). */
  def tablesByPage(n: Int): Seq[TableResult] = tables.filter(_.page_number == n)
}

/** Extraction configuration (reference: config.py:9-76). Dead knobs of the
  * reference (chunk_size, timeout, detect_footers, image_quality, ...) are
  * kept for API parity and documented as inert. */
final case class ExtractConfig(
    enableOcr: Boolean = true,
    ocrEngine: String = "auto",
    language: String = "zh-CN",
    confidenceThreshold: Double = 0.8,
    enableLayoutDetection: Boolean = true,
    detectHeaders: Boolean = true,
    detectFooters: Boolean = true, // inert in reference (footer gated on detectHeaders, layout_processor.py:29)
    detectColumns: Boolean = true,
    enableTableExtraction: Boolean = true,
    tableDetectionMethod: String = "auto",
    enableImageProcessing: Boolean = true,
    imageQuality: Int = 200, // inert
    imageFormat: String = "PNG", // inert
    enableTextCleaning: Boolean = true,
    removeHeadersFooters: Boolean = true,
    mergeHyphenatedWords: Boolean = true, // stub-identity in reference (text_processor.py:71-75)
    fixEncoding: Boolean = true, // stub-identity in reference (text_processor.py:101-105)
    maxWorkers: Int = 4, // superseded by partition parallelism; validated for parity
    chunkSize: Int = 10, // inert (config.py:42, never consumed)
    timeoutSec: Int = 300, // inert (config.py:43, never consumed)
    outputFormat: String = "text",
    includeMetadata: Boolean = true,
    includeImages: Boolean = false,
    engine: String = "core" // core | fitz | plumber (the three reference engines)
) {
  /** reference: config.py:55-76 */
  def validate(): Unit = {
    require(confidenceThreshold >= 0.0 && confidenceThreshold <= 1.0,
      "confidence_threshold must be between 0.0 and 1.0")
    require(Set("tesseract", "easyocr", "auto")(ocrEngine),
      "ocr_engine must be 'tesseract', 'easyocr' or 'auto'")
    require(Set("image", "structure", "auto")(tableDetectionMethod),
      "table_detection_method must be 'image', 'structure' or 'auto'")
    require(Set("text", "json", "structured")(outputFormat),
      "output_format must be 'text', 'json' or 'structured'")
    require(maxWorkers >= 1, "max_workers must be greater than 0")
    require(chunkSize >= 1, "chunk_size must be greater than 0")
    require(timeoutSec >= 1, "timeout must be greater than 0")
    require(Set("core", "fitz", "plumber")(engine),
      "engine must be 'core', 'fitz' or 'plumber'")
  }
}

object ExtractConfig {
  val default: ExtractConfig = { val c = ExtractConfig(); c.validate(); c }
}
