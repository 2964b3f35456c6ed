package graft.kernel

import graft.model._

/** The per-document extraction pipeline: RawDoc -> DocResult.
  * Pure Scala, zero Spark imports — the unit of work `mapPartitions` runs.
  *
  * Stage map versus the reference (SURVEY.md §3.1):
  *   parse (pdf_processor.py:54-106) -> per-page pipeline (core.py:207-243)
  *   -> merge (core.py:280-328) -> post-process (text_processor.py:19-44).
  * The reference's ThreadPoolExecutor page fan-out (core.py:184-205)
  * disappears: parallelism comes from Spark partitioning (and the skew path
  * splits giant docs into per-page work units — pipeline.Extract).
  */
object Extractor {

  /** Shared zero bbox (reference tables/cells carry [0,0,0,0],
    * table_processor.py:57,66) — one instance, not one per cell. */
  private val ZeroBox: Seq[Double] = Parse.box4(0d, 0d, 0d, 0d)

  /** Table cell normalization (reference: table_processor.py:38-72):
    * row-major cells, is_header = (row == 0), zero bbox, drop empty tables. */
  def processTableData(t: Parse.TableDict, pageNum: Int): Option[TableResult] = {
    if (t.data.isEmpty || t.rows == 0 || t.cols == 0) None
    else {
      val cells = for {
        (row, rowIdx) <- t.data.zipWithIndex
        (cellText, colIdx) <- row.zipWithIndex
        if cellText != null
      } yield TableCell(cellText, rowIdx, colIdx, ZeroBox, 1.0, rowIdx == 0)
      Some(TableResult(cells, t.rows, t.cols, ZeroBox, 1.0, pageNum))
    }
  }

  /** Image normalization (reference: image_processor.py:38-55). media_ref is
    * the reference's (always-empty) image_path — here it carries the input
    * span's media_ref through. */
  def processImageData(img: Parse.ImageDict, pageNum: Int): ImageResult =
    ImageResult(media_ref = img.mediaRef, bbox = img.bbox, page_number = pageNum, image_type = img.imageType)

  /** OCR gate (reference: core.py:267-278): no text objects, or total text
    * length < 50. The OCR body is a stub returning no blocks
    * (ocr_processor.py:45-55) — the gate is computed for parity and metrics. */
  def needsOcr(textObjects: Seq[TextBlock]): Boolean =
    textObjects.isEmpty || textObjects.map(b => if (b.text == null) 0 else b.text.length).sum < 50

  /** Supported OCR languages (reference: ocr_processor.py:57-72). */
  val SupportedOcrLanguages: Seq[String] = Seq("ch_sim", "en", "ja", "ko")

  /** Per-page pipeline (reference: core.py:207-243): text blocks -> layout ->
    * tables -> images -> OCR gate. pageNum is 1-based like the reference
    * (core.py:171). */
  def processSinglePage(pageData: Parse.PageData, pageNum: Int, cfg: ExtractConfig): PageResult = {
    var page = PageResult(
      page_number = pageNum,
      width = pageData.width,
      height = pageData.height,
      text_blocks = pageData.textObjects)

    if (cfg.enableLayoutDetection) page = Layout.process(page, cfg)

    if (cfg.enableTableExtraction) {
      page = page.copy(tables = pageData.tables.flatMap(processTableData(_, pageNum)))
    }
    if (cfg.enableImageProcessing) {
      page = page.copy(images = pageData.images.map(processImageData(_, pageNum)))
    }
    if (cfg.enableOcr && needsOcr(pageData.textObjects)) {
      // OCR stub: gate fires, adds nothing (ocr_processor.py:45-55)
    }
    page
  }

  /** Document text assembly (reference: core.py:280-328): multi-column pages
    * contribute ONE "\n"-joined element; single-column pages contribute one
    * element PER non-empty block; elements joined "\n\n". */
  def mergeResults(docId: String, pages: Seq[PageResult]): DocResult = {
    // One StringBuilder pass (r4): the declarative flatMap/collect/mkString
    // form allocated an intermediate text list per page plus a full-doc
    // element list before the final join — a measured hot frame on giant
    // docs. Semantics preserved exactly, including the quirk that a
    // column-processed page with zero non-empty blocks contributes one
    // EMPTY element (so its "\n\n" separators still appear), while a
    // single-column empty page contributes nothing.
    val sb = new java.lang.StringBuilder
    var firstElem = true
    def sep(): Unit = { if (!firstElem) sb.append("\n\n"); firstElem = false }
    pages.foreach { page =>
      if (page.column_processed) {
        sep()
        var firstLine = true
        page.text_blocks.foreach { b =>
          if (b.text != null && b.text.nonEmpty) {
            if (!firstLine) sb.append('\n')
            sb.append(b.text)
            firstLine = false
          }
        }
      } else {
        page.text_blocks.foreach { b =>
          if (b.text != null && b.text.nonEmpty) { sep(); sb.append(b.text) }
        }
      }
    }
    val mergedText = sb.toString
    DocResult(
      doc_id = docId,
      text = mergedText,
      pages = pages,
      tables = pages.flatMap(_.tables),
      images = pages.flatMap(_.images),
      spans = Nil,
      num_pages = pages.length)
  }

  /** Output span projection (SURVEY.md §1.4 ordering contract): per page —
    * final text blocks in reading order, then tables in extraction order
    * (one span per table; rows joined "\n", cells "\t"), then images; pages
    * ascending; offset = 0-based position in the whole sequence. */
  def projectSpans(result: DocResult): Seq[Span] = {
    val out = Vector.newBuilder[Span]
    var off = 0
    result.pages.sortBy(_.page_number).foreach { page =>
      page.text_blocks.foreach { b =>
        out += Span("text", if (b.text == null) "" else b.text, "", off); off += 1
      }
      page.tables.foreach { t =>
        val grid = t.cells.groupBy(_.row).toSeq.sortBy(_._1)
          .map { case (_, cs) => cs.sortBy(_.col).map(_.text).mkString("\t") }
          .mkString("\n")
        out += Span("table", grid, "", off); off += 1
      }
      page.images.foreach { img =>
        out += Span("image", "", img.media_ref, off); off += 1
      }
    }
    out.result()
  }

  /** Parse + per-page pipeline for one page's spans. Exposed separately so
    * the skew path can run pages independently. */
  def extractPage(pageNumber0: Int, spans: Seq[Span], cfg: ExtractConfig): PageResult = {
    val pageData = Parse.parsePage(pageNumber0, spans, cfg)
    // reference numbers pages from 1 (core.py:171)
    try processSinglePage(pageData, pageNumber0 + 1, cfg)
    catch { case scala.util.control.NonFatal(_) => PageResult(page_number = pageNumber0 + 1) }
  }

  /** Result metadata (reference: pdf_processor.py:108-125 — doc-info map +
    * num_pages + file_size). The span contract has no byte stream, so
    * file_size is the merged-text char count: deterministic, path-invariant
    * (identical from the narrow and page-split legs). */
  private def docMetadata(numPages: Int, mergedTextLen: Int): Map[String, String] =
    Map("num_pages" -> numPages.toString, "file_size" -> mergedTextLen.toString)

  /** Doc-level finalize over already-extracted pages (ascending page order):
    * merge + post-process + span projection. Stamps metadata and
    * extraction_date (models.py:159); processing_time covers this finalize
    * only — extractDoc re-stamps it with the full per-doc duration. */
  def finalizeDoc(docId: String, pages: Seq[PageResult], cfg: ExtractConfig): DocResult = {
    val t0 = System.nanoTime()
    var result = mergeResults(docId, pages)
    val meta = docMetadata(pages.length, if (result.text == null) 0 else result.text.length)
    if (cfg.enableTextCleaning) result = TextClean.postProcess(result, cfg)
    // tables/images doc-level lists reflect final pages
    result = result.copy(
      tables = result.pages.flatMap(_.tables),
      images = result.pages.flatMap(_.images))
    result.copy(
      spans = projectSpans(result),
      metadata = meta,
      processing_time = (System.nanoTime() - t0) / 1e9,
      extraction_date = System.currentTimeMillis() * 1000L)
  }

  /** Full per-document pipeline with quarantine (the reference throws typed
    * exceptions, core.py:111-116; on executors we quarantine instead, with a
    * stable error_code taxonomy — SURVEY.md §2.1 "File validation /
    * pre-scan filter"; encryption sniff per pdf_processor.py:97-102). */
  def extractDoc(doc: RawDoc, cfg: ExtractConfig = ExtractConfig.default): DocResult = {
    val t0 = System.nanoTime()
    def stamped(r: DocResult): DocResult =
      r.copy(processing_time = (System.nanoTime() - t0) / 1e9,
        extraction_date = System.currentTimeMillis() * 1000L)
    try {
      if (doc.doc_id == null) return stamped(quarantined(null, "null doc_id", ErrorCode.NullDocId))
      val spans = if (doc.spans == null) Nil else doc.spans.filter(_ != null)
      cfg.engine match {
        case "fitz" =>
          val text = AdaptiveFitz.extractText(spans)
          stamped(DocResult(doc.doc_id, text, Nil, Nil, Nil,
            Seq(Span("text", text, "", 0)), if (spans.isEmpty) 0 else 1,
            metadata = docMetadata(if (spans.isEmpty) 0 else 1, text.length)))
        case "plumber" =>
          val text = AdaptivePlumber.extractText(spans)
          stamped(DocResult(doc.doc_id, text, Nil, Nil, Nil,
            Seq(Span("text", text, "", 0)), if (spans.isEmpty) 0 else 1,
            metadata = docMetadata(if (spans.isEmpty) 0 else 1, text.length)))
        case _ =>
          val pages = Parse.paginate(spans).map { case (p, ss) => extractPage(p, ss, cfg) }
          stamped(finalizeDoc(doc.doc_id, pages, cfg))
      }
    } catch {
      case scala.util.control.NonFatal(e) => stamped(quarantined(doc.doc_id, e))
    }
  }

  /** The quarantine row for a doc the kernel could not extract. */
  def quarantined(docId: String, error: String, errorCode: String): DocResult =
    DocResult(Option(docId).getOrElse(""), "", Nil, Nil, Nil, Nil, 0, quarantined = true,
      error = error, error_code = errorCode, is_encrypted = errorCode == ErrorCode.Encrypted)

  /** The quarantine row for a kernel exception on `docId`. */
  def quarantined(docId: String, e: Throwable): DocResult =
    quarantined(docId, s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(500)}",
      ErrorCode.ofThrowable(e))
}
