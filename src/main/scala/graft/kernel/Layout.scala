package graft.kernel

import graft.model._

/** Layout detection: titles, headers/footers, multi-column reordering.
  * Re-expression of the reference's LayoutProcessor
  * (reference: smartextractor/processors/layout_processor.py:13-600),
  * preserving its thresholds, regex lists, tie-breaks and quirks exactly.
  */
object Layout {

  /** Full layout pass over one page (reference: layout_processor.py:19-40).
    * Note the reference gates BOTH title and header/footer detection on
    * detect_headers (detect_footers is a dead knob, layout_processor.py:25-30). */
  def process(page: PageResult, cfg: ExtractConfig): PageResult = {
    var p = page
    if (cfg.detectHeaders) p = classifyBlocks(p) // titles then bands, fused single pass
    if (cfg.detectColumns) p = detectColumns(p)
    p
  }

  /** Fused single-pass equivalent of detectTitles + detectHeadersFooters
    * (same order: the band classifier may overwrite a title, exactly as the
    * reference's sequential passes do — layout_processor.py:25-30). */
  def classifyBlocks(page: PageResult): PageResult = {
    val headerThreshold = page.height * 0.05
    val footerThreshold = page.height * 0.95
    // copy-on-write over an indexed view (r4): pages where nothing
    // classifies (the common case) keep their block array untouched; a page
    // with reclassified blocks materializes ONE flat array — no Vector
    // rebuild either way
    val blocks: IndexedSeq[TextBlock] = page.text_blocks match {
      case is: IndexedSeq[TextBlock] => is
      case s => s.toIndexedSeq
    }
    val n = blocks.length
    var out: Array[TextBlock] = null
    var i = 0
    while (i < n) {
      val b0 = blocks(i)
      var t = if (b0.font_size.exists(_ > 14)) "title" else b0.block_type
      if (b0.hasBBox) {
        val yTop = b0.bbox(1); val yBottom = b0.bbox(3)
        val blockHeight = yBottom - yTop
        val blockWidth = b0.bbox(2) - b0.bbox(0)
        if (!(blockHeight > page.height * 0.3 || blockWidth > page.width * 0.8)) {
          if (yTop < headerThreshold && yBottom < headerThreshold * 2) {
            if (isLikelyHeader(b0, page.width)) t = "header"
          } else if (yBottom > footerThreshold && yTop > footerThreshold - headerThreshold) {
            if (isLikelyFooter(b0, page.width)) t = "footer"
          }
        }
      }
      if (t != b0.block_type) {
        if (out == null) {
          out = new Array[TextBlock](n)
          var j = 0
          while (j < i) { out(j) = blocks(j); j += 1 }
        }
        out(i) = b0.copy(block_type = t)
      } else if (out != null) out(i) = b0
      i += 1
    }
    if (out == null) page
    else page.copy(text_blocks = scala.collection.immutable.ArraySeq.unsafeWrapArray(out))
  }

  /** Title detection: font_size > 14 (reference: layout_processor.py:42-49). */
  def detectTitles(page: PageResult): PageResult =
    page.copy(text_blocks = page.text_blocks.map { b =>
      if (b.font_size.exists(_ > 14)) b.copy(block_type = "title") else b
    })

  // re.match anchors at the start only — lookingAt() on patterns compiled
  // ONCE (per-call Pattern.compile was a measured hot frame at scale).
  private def compiled(patterns: Seq[String]): Array[java.util.regex.Pattern] =
    patterns.map(java.util.regex.Pattern.compile).toArray

  /** Header content patterns (reference: layout_processor.py:107-121). */
  val HeaderPatterns: Seq[String] = Seq(
    "^\\d+$",
    "^[A-Z][A-Z\\s]{1,50}$",
    "^(Chapter|Section|Part)\\s+\\d+",
    "^\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}$",
    "^\\d{4}-\\d{2}-\\d{2}$",
    "^[A-Z][A-Z\\s&]{1,30}$",
    "^Header$"
  )

  /** Footer content patterns (reference: layout_processor.py:158-177). */
  val FooterPatterns: Seq[String] = Seq(
    "^\\d+$",
    "^Page\\s+\\d+",
    "^-\\s*\\d+\\s*-$",
    "^\\d{1,2}[/-]\\d{1,2}[/-]\\d{2,4}$",
    "^\\d{4}-\\d{2}-\\d{2}$",
    "^©\\s*\\d{4}",
    "^Copyright\\s+\\d{4}",
    "^(Confidential|Internal|Draft)",
    "^[A-Z]:\\\\",
    "^/[a-zA-Z/]+$",
    "^Footer$"
  )

  private val HeaderCompiled = compiled(HeaderPatterns)
  private val FooterCompiled = compiled(FooterPatterns)

  private def likelyBand(block: TextBlock, pageWidth: Double, patterns: Array[java.util.regex.Pattern]): Boolean = {
    if (block.text == null) return false
    val text = block.text.trim
    if (text.length < 2) return false
    if (text.length > 200) return false
    var i = 0
    while (i < patterns.length) {
      if (patterns(i).matcher(text).lookingAt()) return true
      i += 1
    }
    if (block.hasBBox) {
      val center = (block.bbox(0) + block.bbox(2)) / 2
      if (math.abs(center - pageWidth / 2) < pageWidth * 0.1) return true
    }
    if (block.font_size.exists(_ < 12)) return true
    false
  }

  def isLikelyHeader(block: TextBlock, pageWidth: Double): Boolean =
    likelyBand(block, pageWidth, HeaderCompiled)

  def isLikelyFooter(block: TextBlock, pageWidth: Double): Boolean =
    likelyBand(block, pageWidth, FooterCompiled)

  /** Geometric band + content classification
    * (reference: layout_processor.py:51-89). */
  def detectHeadersFooters(page: PageResult): PageResult = {
    val headerThreshold = page.height * 0.05
    val footerThreshold = page.height * 0.95
    page.copy(text_blocks = page.text_blocks.map { b =>
      if (!b.hasBBox) b
      else {
        val yTop = b.bbox(1); val yBottom = b.bbox(3)
        val blockHeight = yBottom - yTop
        val blockWidth = b.bbox(2) - b.bbox(0)
        if (blockHeight > page.height * 0.3 || blockWidth > page.width * 0.8) b
        else if (yTop < headerThreshold && yBottom < headerThreshold * 2) {
          if (isLikelyHeader(b, page.width)) b.copy(block_type = "header") else b
        } else if (yBottom > footerThreshold && yTop > footerThreshold - headerThreshold) {
          if (isLikelyFooter(b, page.width)) b.copy(block_type = "footer") else b
        } else b
      }
    })
  }

  // ---------------------------------------------------------------------
  // Column detection (three detectors + insertion-order majority vote)
  // ---------------------------------------------------------------------

  /** Detector 1: histogram + gap statistics over unique x0
    * (reference: layout_processor.py:224-277). */
  def analyzeColumnLayout(page: PageResult): Int = {
    if (page.text_blocks.isEmpty) return 1
    if (page.width == 0) return 1 // (no-bbox pages also return 1 below — order-free)
    val blocks = page.text_blocks
    var n = 0
    blocks.foreach { b => if (b.bbox != null && b.bbox.length >= 2) n += 1 }
    if (n == 0) return 1
    val xs = new Array[Double](n)
    var i = 0
    blocks.foreach { b => if (b.bbox != null && b.bbox.length >= 2) { xs(i) = b.bbox(0); i += 1 } }
    detectColumnsByClusteringArr(xs, page.width)
  }

  /** Detector 1 over the x0 positions, on primitive arrays: no boxed
    * collection ops (this runs on every page; the boxed folds were top
    * self-frames in stack samples). Ends in the column-count estimate
    * (layout_processor.py:279-297). */
  def detectColumnsByClusteringArr(xPositions: Array[Double], pageWidth: Double): Int = {
    if (xPositions.length == 0) return 1
    // distinct (first-occurrence, value-equal) then sorted == sorted + adjacent dedup
    val sortedAll = java.util.Arrays.copyOf(xPositions, xPositions.length)
    java.util.Arrays.sort(sortedAll)
    var m = 0
    var i = 0
    while (i < sortedAll.length) {
      if (m == 0 || sortedAll(i) != sortedAll(m - 1)) { sortedAll(m) = sortedAll(i); m += 1 }
      i += 1
    }
    if (m < 2) return 1
    val uniqueX = java.util.Arrays.copyOf(sortedAll, m)
    val bins = math.min(20, m / 2 + 1)
    val (hist, binEdges) = Cluster.histogramArr(uniqueX, bins, 0, pageWidth)
    var histSum = 0
    i = 0
    while (i < hist.length) { histSum += hist(i); i += 1 }
    val avg = histSum.toDouble / hist.length
    i = 0
    while (i < hist.length) {
      if (hist(i) < avg * 0.4) {
        val left = binEdges(i); val right = binEdges(i + 1)
        if (left > pageWidth * 0.25 && right < pageWidth * 0.75) return 2
      }
      i += 1
    }
    // gaps > 20 between consecutive unique x0s
    var nGaps = 0
    var gapSum = 0.0
    i = 1
    while (i < m) {
      val g = uniqueX(i) - uniqueX(i - 1)
      if (g > 20) { nGaps += 1; gapSum += g }
      i += 1
    }
    if (nGaps == 0) return 1
    val avgGap = gapSum / nGaps
    // large gaps: mean over those passing the threshold (same left-to-right order)
    var nLarge = 0
    var largeSum = 0.0
    i = 1
    while (i < m) {
      val g = uniqueX(i) - uniqueX(i - 1)
      if (g > 20 && (g > avgGap * 1.1 || g > pageWidth * 0.2)) { nLarge += 1; largeSum += g }
      i += 1
    }
    if (nLarge > 0) {
      val avgColumnGap = largeSum / nLarge
      val k = if (avgColumnGap > pageWidth * 0.15) 2
        else if (avgColumnGap > pageWidth * 0.08) 3
        else 4
      math.max(1, math.min(k, 4))
    } else 1
  }

  /** Detector 2: width heuristic + 2-means on x-centers
    * (reference: layout_processor.py:467-493). */
  def heuristicColumnDetection(page: PageResult): Int = {
    if (page.text_blocks.isEmpty || page.width == 0) return 1
    var n = 0
    page.text_blocks.foreach { b => if (b.hasBBox) n += 1 }
    if (n == 0) return 1
    val centers = new Array[Double](n)
    var widthSum = 0.0
    var i = 0
    page.text_blocks.foreach { b =>
      if (b.hasBBox) {
        widthSum += b.bbox(2) - b.bbox(0)
        centers(i) = (b.bbox(0) + b.bbox(2)) / 2
        i += 1
      }
    }
    val avgBlockWidth = widthSum / n
    val pageWidth = page.width
    if (n > 10) {
      // means-only exact 2-means (bit-identical to kmeans1D(xs, 2)._2)
      val (m0, m1) = Cluster.kmeans1D2Means(centers)
      if (math.abs(m1 - m0) > pageWidth * 0.3) return 2
    }
    if (avgBlockWidth < pageWidth * 0.45) {
      val estimated = (pageWidth / (avgBlockWidth * 1.1)).toInt
      math.max(1, math.min(estimated, 4))
    } else 1
  }

  /** Detector 3: 50px density grid (reference: layout_processor.py:495-558). */
  def densityBasedColumnDetection(page: PageResult): Int = {
    if (page.text_blocks.isEmpty || page.width == 0 || page.height == 0) return 1
    val gridSize = 50
    val cols = (page.width / gridSize).toInt + 1
    val rows = (page.height / gridSize).toInt + 1
    // flat row-major grid: the per-page Array-of-Array allocation churn
    // (rows+1 objects x 2.1M pages) was measurable
    val density = new Array[Long](rows * cols)
    page.text_blocks.foreach { b =>
      if (b.hasBBox) {
        val x1 = b.bbox(0); val y1 = b.bbox(1); val x2 = b.bbox(2); val y2 = b.bbox(3)
        val startCol = math.max(0, (x1 / gridSize).toInt)
        val endCol = math.min(cols - 1, (x2 / gridSize).toInt)
        val startRow = math.max(0, (y1 / gridSize).toInt)
        val endRow = math.min(rows - 1, (y2 / gridSize).toInt)
        val w = if (b.text != null && b.text.nonEmpty) b.text.length else 1
        var r = startRow
        while (r <= endRow) {
          var c = startCol
          while (c <= endCol) { density(r * cols + c) += w; c += 1 }
          r += 1
        }
      }
    }
    if (rows == 0) return 1
    // per-column sums + avg + high count (layout_processor.py:530-558)
    var total = 0L
    var c = 0
    val colSums = new Array[Long](cols)
    while (c < cols) {
      var s = 0L
      var r = 0
      while (r < rows) { s += density(r * cols + c); r += 1 }
      colSums(c) = s
      total += s
      c += 1
    }
    if (cols == 0) return 1
    val avg = total.toDouble / cols
    val threshold = avg * 0.3
    var high = 0
    c = 0
    while (c < cols) { if (colSums(c) > threshold) high += 1; c += 1 }
    if (high <= 1) 1 else if (high <= 2) 2 else if (high <= 3) 3 else 4
  }

  /** Majority vote over the three detectors; detector-1 wins ties through
    * Counter insertion order (reference: layout_processor.py:450-465). */
  def improveColumnDetection(page: PageResult): Int = {
    if (page.text_blocks.isEmpty) return 1
    val c1 = analyzeColumnLayout(page)
    val c2 = heuristicColumnDetection(page)
    val c3 = densityBasedColumnDetection(page)
    Cluster.majorityVote(Seq(c1, c2, c3))
  }

  /** Equal-width column assignment by block center x; no-bbox blocks go to
    * column 0; centers on/after the right edge also land in column 0 (the
    * reference's loop default — layout_processor.py:299-334). */
  def assignBlocksToColumns(page: PageResult, columnCount: Int): IndexedSeq[IndexedSeq[TextBlock]] = {
    val columns = Array.fill(columnCount)(new scala.collection.mutable.ArrayBuffer[TextBlock])
    val columnWidth = page.width / columnCount
    val boundaries = (0 until columnCount).map(i => (i * columnWidth, (i + 1) * columnWidth))
    page.text_blocks.foreach { b =>
      if (b.bbox == null || b.bbox.length < 2) {
        columns(0) += b.copy(column_id = 0)
      } else {
        val centerX = (b.bbox(0) + b.bbox(2)) / 2
        var col = 0
        var found = false
        var i = 0
        while (i < columnCount && !found) {
          if (boundaries(i)._1 <= centerX && centerX < boundaries(i)._2) { col = i; found = true }
          i += 1
        }
        columns(col) += b.copy(column_id = col)
      }
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(
      columns.map(c => scala.collection.immutable.ArraySeq.unsafeWrapArray(c.toArray): IndexedSeq[TextBlock]))
  }

  /** Stable sort by a double key without boxed Ordering (java TimSort +
    * Comparator.comparingDouble — the boxed sortBy comparator was a top
    * self-frame in stack samples; Double.compare semantics identical). */
  private def sortByDoubleKey(blocks: scala.collection.Seq[TextBlock], key: TextBlock => Double): IndexedSeq[TextBlock] = {
    val arr = blocks.toArray
    java.util.Arrays.sort(arr, java.util.Comparator.comparingDouble((b: TextBlock) => key(b)))
    scala.collection.immutable.ArraySeq.unsafeWrapArray(arr)
  }

  /** Per-column sort by y-top; missing bbox sorts as 0
    * (reference: layout_processor.py:336-345). Stable, like Python sorted. */
  def sortBlocksInColumns(columns: Seq[Seq[TextBlock]]): IndexedSeq[IndexedSeq[TextBlock]] =
    columns.iterator.map(c => sortByDoubleKey(c, b => if (b.hasBBox) b.bbox(1) else 0.0)).toIndexedSeq

  /** Reading-order merge: k=2 row-by-row, k!=2 concatenate columns
    * left-to-right (reference: layout_processor.py:347-366). */
  def mergeColumnsInReadingOrder(sortedColumns: Seq[Seq[TextBlock]]): IndexedSeq[TextBlock] = {
    if (sortedColumns.isEmpty) Vector.empty
    else if (sortedColumns.length == 2) mergeColumnsRowByRow(sortedColumns)
    else sortedColumns.iterator.flatten.toIndexedSeq
  }

  /** Row-by-row merge for two columns: greedy 20px row anchors (first-seen
    * wins), per row left-column blocks then right-column blocks, row sorted
    * by x (reference: layout_processor.py:368-426). Blocks within 20px of two
    * anchors are duplicated — a reference quirk we replicate. */
  def mergeColumnsRowByRow(sortedColumns: Seq[Seq[TextBlock]]): IndexedSeq[TextBlock] = {
    if (sortedColumns.length != 2) return Vector.empty
    val left = sortedColumns(0)
    val right = sortedColumns(1)
    val rowTolerance = 20.0
    var nY = 0
    left.foreach(b => if (b.hasBBox) nY += 1)
    right.foreach(b => if (b.hasBBox) nY += 1)
    if (nY == 0) return (left.iterator ++ right.iterator).toIndexedSeq
    val allY = new Array[Double](nY)
    var yi = 0
    left.foreach(b => if (b.hasBBox) { allY(yi) = b.bbox(1); yi += 1 })
    right.foreach(b => if (b.hasBBox) { allY(yi) = b.bbox(1); yi += 1 })
    java.util.Arrays.sort(allY)

    // greedy unique rows, first-seen anchor wins (layout_processor.py:393-405);
    // anchors emerge in ascending order from the sorted scan, so the final
    // re-sort of the Seq form is the identity here. Because both the scan
    // and the anchor list ascend, a candidate y can only be within tolerance
    // of the LAST anchor (any earlier anchor is farther below y) — one
    // comparison replaces the linear exists (r4).
    val uniqueRows = new scala.collection.mutable.ArrayBuffer[Double](nY)
    var ui = 0
    while (ui < nY) {
      val y = allY(ui)
      if (uniqueRows.isEmpty || y - uniqueRows(uniqueRows.length - 1) > rowTolerance) uniqueRows += y
      ui += 1
    }

    // two-pointer sweep per column: blocks are y-sorted, anchors ascending,
    // so each row's matches are a contiguous window [rowY-tol, rowY+tol].
    // Blocks within tol of two anchors are emitted for both rows — the
    // reference's duplicate quirk (layout_processor.py:410-424) preserved.
    val leftArr = left.filter(_.hasBBox).toArray
    val rightArr = right.filter(_.hasBBox).toArray
    val out = new scala.collection.mutable.ArrayBuffer[TextBlock](leftArr.length + rightArr.length)
    var ls = 0; var rs = 0
    val row = scala.collection.mutable.ArrayBuffer.empty[TextBlock]
    uniqueRows.foreach { rowY =>
      row.clear()
      while (ls < leftArr.length && leftArr(ls).bbox(1) < rowY - rowTolerance) ls += 1
      var i = ls
      while (i < leftArr.length && leftArr(i).bbox(1) <= rowY + rowTolerance) { row += leftArr(i); i += 1 }
      while (rs < rightArr.length && rightArr(rs).bbox(1) < rowY - rowTolerance) rs += 1
      i = rs
      while (i < rightArr.length && rightArr(i).bbox(1) <= rowY + rowTolerance) { row += rightArr(i); i += 1 }
      out ++= sortByDoubleKey(row, b => if (b.hasBBox) b.bbox(0) else 0.0)
    }
    scala.collection.immutable.ArraySeq.unsafeWrapArray(out.toArray)
  }

  /** Multi-column detect + reorder (reference: layout_processor.py:198-222). */
  def detectColumns(page: PageResult): PageResult = {
    if (page.text_blocks.isEmpty || page.width == 0) return page
    try {
      val columnCount = improveColumnDetection(page)
      if (columnCount <= 1) return page
      val columns = assignBlocksToColumns(page, columnCount)
      val sortedCols = sortBlocksInColumns(columns)
      val reordered = mergeColumnsInReadingOrder(sortedCols)
      page.copy(text_blocks = reordered, column_processed = true)
    } catch {
      // reference: layout_processor.py:220-222 — any detection failure keeps
      // the original block order (e.g. IndexError on a 2-3 element bbox in
      // the center-x read, layout_processor.py:313); without this a public-
      // API caller with a short bbox would lose the whole page.
      case scala.util.control.NonFatal(_) => page
    }
  }

  /** Row grouping utility (reference: layout_processor.py:560-599): greedy
    * over y-sorted blocks with a moving anchor; no-bbox blocks join the
    * current row. */
  def groupBlocksByRows(blocks: Seq[TextBlock]): Vector[Vector[TextBlock]] = {
    if (blocks.isEmpty) return Vector.empty
    val sorted = sortByDoubleKey(blocks, b => if (b.hasBBox) b.bbox(1) else 0.0)
    val rowTolerance = 20.0
    var groups = Vector.empty[Vector[TextBlock]]
    var currentRow = Vector.empty[TextBlock]
    var currentY: Option[Double] = None
    sorted.foreach { b =>
      if (!b.hasBBox) currentRow :+= b
      else {
        val y = b.bbox(1)
        currentY match {
          case None => currentY = Some(y); currentRow = Vector(b)
          case Some(cy) if math.abs(y - cy) <= rowTolerance => currentRow :+= b
          case Some(_) =>
            if (currentRow.nonEmpty) groups :+= currentRow
            currentY = Some(y); currentRow = Vector(b)
        }
      }
    }
    if (currentRow.nonEmpty) groups :+= currentRow
    groups
  }
}
