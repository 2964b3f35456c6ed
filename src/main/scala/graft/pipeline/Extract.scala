package graft.pipeline

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.model._
import graft.kernel.{Extractor, Parse}

/** The Dataset-level extraction pipeline.
  *
  * Shape (SURVEY.md §4.2): the whole per-document pipeline is one narrow
  * `mapPartitions` — no shuffle for the common case. Parallelism = input
  * partitioning; the reference's per-page thread pool (core.py:184-205)
  * disappears.
  *
  * Skew (north_rule: "salted repartitioning for skewed multi-hundred-page
  * documents"): docs whose span count exceeds `skewSpanThreshold` are
  * exploded into per-page work units, shuffled wide by (doc_id, page), page
  * kernels run in parallel, then re-grouped by doc_id with explicit page
  * ordering for the cheap doc-level finalize. At 100 TB this bounds executor
  * memory by the largest PAGE, not the largest DOC, and spreads a
  * thousand-page document over the cluster instead of pinning one task.
  *
  * The page-split plan only exists for the core engine: the adaptive
  * fitz/plumber engines read page 0 only (loops commented out in the
  * reference), so both contract entry points route non-core configs down
  * the narrow path — splitting them would both change semantics and waste a
  * shuffle.
  */
object Extract {

  /** Narrow path: one doc per kernel call. */
  def extract(ds: Dataset[RawDoc], cfg: ExtractConfig = ExtractConfig.default): Dataset[DocResult] = {
    implicit val enc = org.apache.spark.sql.Encoders.product[DocResult]
    ds.mapPartitions(_.map(doc => Extractor.extractDoc(doc, cfg)))
  }

  /** Shared page-split leg: giant docs -> per-page work units, spread wide by
    * (doc_id, page_no), page kernels in parallel, regather per doc with
    * explicit page ordering. Callers pre-filter to docs above the skew
    * threshold; page-split assumes non-null doc_id (the table's primary key —
    * the narrow path quarantines null ids).
    * Core engine only (see object scaladoc).
    *
    * r5 shape: the explode is DECLARATIVE (posexplode of the span array —
    * codegen, columnar). The former typed flatMap explode deserialized every
    * giant through the Seq[Span] MapObjects encoder and re-encoded per-page
    * Seq[Span] units — measured as ~70% of the whole leg's wall (1.3 s of
    * 1.9 s on a 40-giant corpus; the same giants process in 0.17 s narrow).
    * Columnar explode also makes the pre-scatter doc repartition unnecessary
    * (explode is now cheap scan-side work, so a layout that CLUSTERS giants
    * no longer serializes the expensive step — the page scatter right after
    * spreads the kernel work regardless of layout): one shuffle saved.
    *
    * Parity with Parse.paginate: page = offset/SpansPerPage with Java
    * int-division semantics (double-divide + int cast truncates toward
    * zero); span order within a page = stable offset-sort, reproduced by
    * sorting (offset, original position). */
  private[graft] def pageSplitPages(big: Dataset[RawDoc], cfg: ExtractConfig,
      pageParallelism: Int): Dataset[(String, Int, PageResult)] = {
    val spark = big.sparkSession
    import spark.implicits._
    implicit val prEnc = org.apache.spark.sql.Encoders.product[(String, Int, PageResult)]
    val parallelism = if (pageParallelism > 0) pageParallelism
      else spark.sparkContext.defaultParallelism
    // Null span ELEMENTS become sentinel rows (page_no = Int.MinValue)
    // instead of being filtered out: a doc whose spans are ALL null would
    // otherwise emit zero units and silently VANISH from the output —
    // violating the quarantine-never-drop contract the narrow leg keeps
    // (the pre-r5 flatMap leg had the same hole). The regather discards
    // sentinels, so such docs finalize over zero pages exactly like the
    // narrow kernel. (Empty/null span ARRAYS cannot reach this leg: the
    // callers' size(spans) > threshold pre-filter excludes them.)
    big.toDF()
      .select(col("doc_id"), posexplode(col("spans")))
      .withColumnRenamed("col", "s")
      .select(col("doc_id"), col("pos"),
        col("s.kind"), col("s.text"), col("s.media_ref"),
        coalesce(col("s.offset"), lit(0)).as("offset"),
        when(col("s").isNull, lit(Int.MinValue))
          .otherwise((col("s.offset") / lit(Parse.SpansPerPage)).cast("int")).as("page_no"))
      .repartition(parallelism, col("doc_id"), col("page_no"))
      .sortWithinPartitions(col("doc_id"), col("page_no"), col("offset"), col("pos"))
      .as[(String, Int, String, String, String, Int, Int)]
      .mapPartitions { it =>
        // assemble each (doc_id, page_no) run — contiguous after the sort —
        // and run the page kernel in place; sentinel runs emit a marker the
        // regather drops (they exist only to keep the doc represented)
        new Iterator[(String, Int, PageResult)] {
          private var nextRow: (String, Int, String, String, String, Int, Int) =
            if (it.hasNext) it.next() else null
          override def hasNext: Boolean = nextRow != null
          override def next(): (String, Int, PageResult) = {
            val docId = nextRow._1
            val pageNo = nextRow._7
            val buf = new scala.collection.mutable.ArrayBuffer[Span](64)
            while (nextRow != null && nextRow._1 == docId && nextRow._7 == pageNo) {
              if (pageNo != Int.MinValue) buf += Span(nextRow._3, nextRow._4, nextRow._5, nextRow._6)
              nextRow = if (it.hasNext) it.next() else null
            }
            if (pageNo == Int.MinValue) (docId, pageNo, PageResult(page_number = 0))
            else (docId, pageNo, Extractor.extractPage(pageNo, buf.toSeq, cfg))
          }
        }
      }
  }

  // Regather note (r5, measured so nobody re-litigates it): the per-page
  // results cross the regather shuffle through the Catalyst product encoder.
  // Two byte-payload alternatives were benchmarked on the A/B corpus — JDK
  // ObjectOutputStream (40% WORSE: class descriptors + reflection per page)
  // and a hand-rolled field codec (equal within noise) — so the remaining
  // leg cost is the shuffle + per-doc finalize itself, not encoder overhead,
  // and the simple typed groupByKey stays.
  /** Page-split leg emitting the contract schema — the giant leg of both
    * contract entries. `big` is the input already filtered to the docs above
    * the skew threshold; only its doc_id and spans are read. */
  private def pageSplitContract(big: org.apache.spark.sql.DataFrame, cfg: ExtractConfig,
      pageParallelism: Int): org.apache.spark.sql.DataFrame = {
    val spark = big.sparkSession
    import spark.implicits._
    implicit val enc = org.apache.spark.sql.Encoders.product[SpanDoc]
    val docs = big.select(col("doc_id").cast("string").as("doc_id"), col("spans")).as[RawDoc]
    pageSplitPages(docs, cfg, pageParallelism)
      .groupByKey(_._1)
      .mapGroups { (docId, it) =>
        val pages = it.toVector.filter(_._2 != Int.MinValue).sortBy(_._2).map(_._3)
        val r = Extractor.finalizeDoc(docId, pages, cfg)
        SpanDoc(r.doc_id, r.spans, r.num_pages, r.quarantined, r.error, r.error_code)
      }
      .toDF().select(col("doc_id"), col("spans").cast(SpanArraySchema).as("spans"),
        col("num_pages"), col("quarantined"), col("error"), col("error_code"))
  }

  /** Page-split leg emitting full results. (private[graft] since r6: q02
    * composes it directly so the slim projection happens BEFORE the union —
    * a typed union of full DocResults forces every row through the fat
    * nested encoder just to be projected down to four fields afterwards.) */
  private[graft] def pageSplitDocResults(big: Dataset[RawDoc], cfg: ExtractConfig,
      pageParallelism: Int): Dataset[DocResult] = {
    val spark = big.sparkSession
    import spark.implicits._
    implicit val docEnc = org.apache.spark.sql.Encoders.product[DocResult]
    pageSplitPages(big, cfg, pageParallelism)
      .groupByKey(_._1)
      .mapGroups { (docId, it) =>
        val pages = it.toVector.filter(_._2 != Int.MinValue).sortBy(_._2).map(_._3)
        Extractor.finalizeDoc(docId, pages, cfg)
      }
  }

  /** Driver-facing output: the span projection table
    * (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,offset>>). */
  def toSpansTable(results: Dataset[DocResult]): Dataset[(String, Seq[Span])] = {
    val spark = results.sparkSession
    import spark.implicits._
    results.filter(!_.quarantined).map(r => (r.doc_id, r.spans))
  }

  // ---------------------------------------------------------------------
  // Array-columnar fast path.
  //
  // Why: stack sampling showed the Catalyst object serializer for
  // Seq[Span] (array-of-struct through MapObjects) dominating wall time and
  // not scaling with threads. Carrying the span stream as four parallel
  // array columns keeps input extraction columnar (spans.kind is a codegen
  // projection), gives the kernel plain Scala arrays, and reassembles the
  // contract ARRAY<STRUCT> with a codegen'd transform at the boundary.
  // ---------------------------------------------------------------------

  /** Kernel wire rows for the streaming (declarative) path. Package-private,
    * not private: the encoders' generated Java must reach their members. */
  private[pipeline] final case class RawDocArr(doc_id: String, kinds: Array[String], texts: Array[String],
      refs: Array[String], offsets: Array[Int])
  private[pipeline] final case class SpanDocArr(doc_id: String, kinds: Array[String], texts: Array[String],
      refs: Array[String], offsets: Array[Int], num_pages: Int, quarantined: Boolean,
      error: String, error_code: String)

  private def runKernelArr(d: RawDocArr, cfg: ExtractConfig): SpanDocArr = {
    val n = if (d.kinds == null) 0 else d.kinds.length
    val spans = new Array[Span](n)
    var i = 0
    while (i < n) { spans(i) = Span(d.kinds(i), d.texts(i), d.refs(i), d.offsets(i)); i += 1 }
    val r = Extractor.extractDoc(RawDoc(d.doc_id, scala.collection.immutable.ArraySeq.unsafeWrapArray(spans)), cfg)
    val m = r.spans.length
    val ok = new Array[String](m); val ot = new Array[String](m); val or = new Array[String](m); val oo = new Array[Int](m)
    var j = 0
    r.spans.foreach { s => ok(j) = s.kind; ot(j) = s.text; or(j) = s.media_ref; oo(j) = s.offset; j += 1 }
    SpanDocArr(r.doc_id, ok, ot, or, oo, r.num_pages, r.quarantined, r.error, r.error_code)
  }

  /** Fast-path extraction over the contract input table
    * (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,offset>>); returns the
    * same shape plus counters. Batch inputs take the single-copy
    * InternalRow kernel ([[extractSpansRows]]); streaming inputs keep the
    * declarative encoder path (toRdd is not defined on streaming plans). */
  def extractSpansDF(input: org.apache.spark.sql.DataFrame,
      cfg: ExtractConfig = ExtractConfig.default): org.apache.spark.sql.DataFrame =
    if (input.isStreaming) extractSpansDFDeclarative(input, cfg)
    else extractSpansRows(input, cfg)

  /** Declarative variant: columnar field projection -> narrow mapPartitions
    * over the encoder wire rows -> codegen'd struct reassembly. Streaming-
    * compatible; the batch entry uses [[extractSpansRows]] (measured ~25%
    * less wall: the encoder path pays UTF8String->String for every field on
    * the way in AND a second array materialization on the way out). */
  private def extractSpansDFDeclarative(input: org.apache.spark.sql.DataFrame,
      cfg: ExtractConfig = ExtractConfig.default): org.apache.spark.sql.DataFrame = {
    val spark = input.sparkSession
    import spark.implicits._
    val arr = input.select(
      col("doc_id").cast("string").as("doc_id"),
      col("spans.kind").as("kinds"),
      col("spans.text").as("texts"),
      col("spans.media_ref").as("refs"),
      col("spans.offset").as("offsets"))
      .as[RawDocArr]
    val out = arr.mapPartitions(_.map(runKernelArr(_, cfg)))
    reassembleSpans(out.toDF())
  }

  /** Contract output schema (matches the encoder path's shape). */
  private val ContractSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(Seq(
      StructField("doc_id", StringType),
      StructField("spans", ArrayType(StructType(Seq(
        StructField("kind", StringType),
        StructField("text", StringType),
        StructField("media_ref", StringType),
        StructField("offset", IntegerType, nullable = false))), containsNull = false)),
      StructField("num_pages", IntegerType, nullable = false),
      StructField("quarantined", BooleanType, nullable = false),
      StructField("error", StringType),
      StructField("error_code", StringType)))
  }

  /** Single-copy InternalRow fast path (the 100-TB hot loop):
    *
    *   - INPUT: reads the scan's Catalyst rows directly (`toRdd`) — span
    *     `kind` is matched against cached UTF8String constants (byte compare,
    *     zero alloc, interned "text"/"table"/"image" result), `media_ref` is
    *     materialized only when non-empty, and only `text` pays the
    *     unavoidable UTF8String->String decode the kernel needs. The encoder
    *     path allocated a String for EVERY field of EVERY span.
    *   - OUTPUT: one codegen'd UnsafeProjection writes the final
    *     ARRAY<STRUCT> row in a single pass. The encoder path serialized four
    *     flat arrays and then re-walked them with a zip expression — the
    *     second copy was ~3.5 s of a 16 s wall at local[32]/160k docs.
    *
    * Null semantics match the typed Dataset[RawDoc] path: null span elements
    * are dropped by the kernel's filter, null doc_id quarantines. */
  private[graft] def extractSpansRows(input: org.apache.spark.sql.DataFrame,
      cfg: ExtractConfig = ExtractConfig.default): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeProjection}
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.unsafe.types.UTF8String
    val spark = input.sparkSession
    val projected = input.select(col("doc_id").cast("string").as("doc_id"), col("spans"))
    val schema = ContractSchema
    val rdd = projected.queryExecution.toRdd.mapPartitions { it =>
      val proj = UnsafeProjection.create(schema)
      val TextU8 = UTF8String.fromString("text")
      val TableU8 = UTF8String.fromString("table")
      val ImageU8 = UTF8String.fromString("image")
      val EmptyU8 = UTF8String.fromString("")
      val EmptyRef = ""
      it.map { row =>
        // ---- read: InternalRow -> kernel spans (minimal materialization)
        val docId = if (row.isNullAt(0)) null else row.getUTF8String(0).toString
        val spanArr: Array[Span] =
          if (row.isNullAt(1)) null
          else {
            val arr = row.getArray(1)
            val n = arr.numElements()
            val out = new Array[Span](n)
            var i = 0
            while (i < n) {
              if (!arr.isNullAt(i)) {
                val s = arr.getStruct(i, 4)
                val kU = if (s.isNullAt(0)) null else s.getUTF8String(0)
                val kind =
                  if (kU == null) null
                  else if (kU.equals(TextU8)) "text"
                  else if (kU.equals(ImageU8)) "image"
                  else if (kU.equals(TableU8)) "table"
                  else kU.toString
                val text = if (s.isNullAt(1)) null else s.getUTF8String(1).toString
                val ref =
                  if (s.isNullAt(2)) null
                  else {
                    val rU = s.getUTF8String(2)
                    if (rU.numBytes == 0) EmptyRef else rU.toString
                  }
                val off = if (s.isNullAt(3)) 0 else s.getInt(3)
                out(i) = Span(kind, text, ref, off)
              }
              i += 1
            }
            out
          }
        val raw = RawDoc(docId,
          if (spanArr == null) null
          else scala.collection.immutable.ArraySeq.unsafeWrapArray(spanArr))
        // ---- kernel
        val r = Extractor.extractDoc(raw, cfg)
        // ---- write: kernel result -> one UnsafeRow (single copy)
        val m = r.spans.length
        val spanRows = new Array[Any](m)
        var j = 0
        r.spans.foreach { sp =>
          val v = new Array[Any](4)
          v(0) = sp.kind match {
            case "text" => TextU8
            case "table" => TableU8
            case "image" => ImageU8
            case null => null
            case other => UTF8String.fromString(other)
          }
          v(1) = if (sp.text == null) null
            else if (sp.text.isEmpty) EmptyU8 else UTF8String.fromString(sp.text)
          v(2) = if (sp.media_ref == null) null
            else if (sp.media_ref.isEmpty) EmptyU8 else UTF8String.fromString(sp.media_ref)
          v(3) = sp.offset
          spanRows(j) = new GenericInternalRow(v)
          j += 1
        }
        val outV = new Array[Any](6)
        outV(0) = if (r.doc_id == null) null else UTF8String.fromString(r.doc_id)
        outV(1) = new GenericArrayData(spanRows)
        outV(2) = r.num_pages
        outV(3) = r.quarantined
        outV(4) = if (r.error == null) null else UTF8String.fromString(r.error)
        outV(5) = if (r.error_code == null) null else UTF8String.fromString(r.error_code)
        proj(new GenericInternalRow(outV)): org.apache.spark.sql.catalyst.InternalRow
      }
    }
    org.apache.spark.sql.graftglue.GraftSqlBridge.internalCreateDataFrame(spark, rdd, schema)
  }

  private val SpanArraySchema = "array<struct<kind:string,text:string,media_ref:string,offset:int>>"

  /** (doc_id, kinds, texts, refs, offsets, ...) -> contract schema with a
    * single-pass zip (arrays_zip walks the four arrays once; the former
    * transform+element_at form paid 4 indexed lookups + a sequence
    * materialization per element — measured 4.4 s of the 16 s contract wall
    * at local[32]). The cast renames the zip's positional fields to the
    * contract names. */
  private def reassembleSpans(df: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    df.select(
      col("doc_id"),
      arrays_zip(col("kinds").as("kind"), col("texts").as("text"),
        col("refs").as("media_ref"), col("offsets").as("offset"))
        .as("spans"),
      col("num_pages"), col("quarantined"), col("error"), col("error_code"))

  /** Contract pipeline over a size-statted managed table
    * (written by `TableIO.writeContractInput`, which adds a pushable
    * `n_spans` column and range-clusters by it): identical semantics to
    * [[extractContract]], but both legs' size predicates reach the parquet
    * scan (`PushedFilters: [LessThanOrEqual/GreaterThan(n_spans, ...)]`),
    * so row-group min/max stats skip the non-matching groups — the big leg
    * costs ~zero I/O when no giants exist, instead of a full second decode
    * of the corpus. This is the at-scale input layout. */
  def extractContractFromTable(
      spark: SparkSession,
      path: String,
      cfg: ExtractConfig = ExtractConfig.default,
      skewSpanThreshold: Int = 512 * Parse.SpansPerPage,
      pageParallelism: Int = 0): org.apache.spark.sql.DataFrame = {
    val input = spark.read.parquet(path)
    if (cfg.engine != "core")
      return extractSpansDF(input.select(col("doc_id"), col("spans")), cfg)
    // fallback (VERDICT r04 #1): a table without the n_spans stats column —
    // e.g. a raw contract table pointed at this entry by mistake, or a
    // catalog whose stats rewrite has not run yet — takes the raw two-scan
    // path instead of failing on an unresolved column; the managed path is
    // an optimization, never a correctness requirement
    if (!input.columns.contains("n_spans"))
      return extractContract(input.select(col("doc_id"), col("spans")), cfg,
        skewSpanThreshold, pageParallelism)
    val small = extractSpansRows(
      input.filter(col("n_spans") <= skewSpanThreshold).select(col("doc_id"), col("spans")), cfg)
    small.unionByName(pageSplitContract(input.filter(col("n_spans") > skewSpanThreshold),
      cfg, pageParallelism))
  }

  /** Production contract entry: input table -> output table, fast columnar
    * path for typical docs + page-split path for giants beyond
    * `skewSpanThreshold` (raw spans; default 512 pages' worth). Both legs
    * emit the contract schema; the plan has exactly two scans of the input
    * (small leg + giant leg — the giant leg feeds [[pageSplitContract]]
    * directly, no third scan).
    *
    * Threshold guidance (measured): the page-split path costs two shuffles
    * (scatter pages, regather per doc), so it loses to whole-doc narrow
    * processing until a document is large enough to (a) threaten task memory
    * or (b) straggle a stage (docs-per-core near 1). ~500 pages is the local
    * crossover; tune per cluster. */
  def extractContract(
      input: org.apache.spark.sql.DataFrame,
      cfg: ExtractConfig = ExtractConfig.default,
      skewSpanThreshold: Int = 512 * Parse.SpansPerPage,
      pageParallelism: Int = 0): org.apache.spark.sql.DataFrame = {
    if (cfg.engine != "core") return extractSpansDF(input, cfg) // page-0 engines: narrow only
    // size split as a column predicate — no encoder roundtrip, and the
    // size(spans) filter evaluates on the columnar batch before any kernel
    val nSpans = coalesce(size(col("spans")), lit(0))
    val small = extractSpansDF(input.filter(nSpans <= skewSpanThreshold), cfg)
    small.unionByName(pageSplitContract(input.filter(nSpans > skewSpanThreshold), cfg, pageParallelism))
  }
}
