package graft.pipeline

import scala.collection.immutable.ArraySeq
import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeSet, GenericInternalRow, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, UnaryNode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.execution.{ExplainUtils, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.kernel.Extractor
import graft.model._

/** Extraction as a Catalyst operator: one logical node whose three kinds run
  * the kernel over the child's `InternalRow`s.
  *
  *   - `Doc` (narrow leg): input (doc_id, spans); one [[Extractor.extractDoc]]
  *     per row; output one row per doc in the node's `shape`.
  *   - `Page` (giant leg, scatter side): input the posexploded span rows
  *     (doc_id, pos, kind, text, media_ref, offset, page_no), clustered and
  *     sorted by (doc_id, page_no, offset, pos); one [[Extractor.extractPage]]
  *     per contiguous (doc_id, page_no) run; output
  *     (doc_id, page_no, page, error, error_code). `page` is the
  *     [[PageResult]] struct; a failed run carries the quarantine error
  *     instead, and sentinel runs (page_no = Int.MinValue) carry neither.
  *   - `Finalize` (giant leg, regather side): input the `Page` output
  *     clustered by doc_id and sorted by (doc_id, page_no); one
  *     [[Extractor.finalizeDoc]] per doc run; output as `Doc`.
  *
  * The `shape` of `Doc` and `Finalize` output is either the six contract
  * columns or the whole [[DocResult]]; `Page` ignores it.
  *
  * `input` lists the child attributes the node reads, in the kind's input
  * order; it keeps them referenced, so column pruning cannot cut them from
  * the child. */
final case class GraftExtract(kind: GraftExtract.Kind, shape: GraftExtract.Shape, cfg: ExtractConfig,
    input: Seq[Attribute], output: Seq[Attribute], child: LogicalPlan) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override def nodeName: String = s"GraftExtract $kind"
  override protected def stringArgs: Iterator[Any] = Iterator.empty
  override protected def withNewChildInternal(newChild: LogicalPlan): GraftExtract = copy(child = newChild)
}

object GraftExtract {
  sealed trait Kind
  case object Doc extends Kind
  case object Page extends Kind
  case object Finalize extends Kind

  /** What a row-emitting kind writes per doc. */
  sealed trait Shape
  /** The six contract columns ([[ContractSchema]]). */
  case object Contract extends Shape
  /** The whole [[DocResult]], as its encoder's columns. */
  case object Results extends Shape

  /** Contract output schema (doc_id, spans, num_pages, quarantined, error, error_code). */
  val ContractSchema: StructType = StructType(Seq(
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

  /** Derived once per JVM. Its serializers and deserializers are not
    * thread-safe: each task creates its own. */
  private lazy val PageEncoder: ExpressionEncoder[PageResult] = ExpressionEncoder[PageResult]()
  private lazy val PageDecoder: ExpressionEncoder[PageResult] = PageEncoder.resolveAndBind()
  private lazy val ResultEncoder: ExpressionEncoder[DocResult] = ExpressionEncoder[DocResult]()

  /** `Page` output schema; the plan carries the page as this struct type. */
  lazy val PageSchema: StructType = StructType(Seq(
    StructField("doc_id", StringType),
    StructField("page_no", IntegerType, nullable = false),
    StructField("page", PageEncoder.schema),
    StructField("error", StringType),
    StructField("error_code", StringType)))

  /** Output schema of a kind in a shape. */
  def schemaOf(kind: Kind, shape: Shape): StructType =
    if (kind == Page) PageSchema else if (shape == Results) ResultEncoder.schema else ContractSchema

  /** The error codes a quarantined row can carry, one metric each. */
  private val QuarantineCodes = Seq(ErrorCode.NullDocId, ErrorCode.Encrypted, ErrorCode.ParseError)

  /** Per-doc finalize of the giant leg: a kernel exception quarantines the
    * doc, as [[Extractor.extractDoc]] does on the narrow leg. */
  private def finalizePages(docId: String, pages: Seq[PageResult], cfg: ExtractConfig): DocResult =
    try Extractor.finalizeDoc(docId, pages, cfg)
    catch { case NonFatal(e) => Extractor.quarantined(docId, e) }

  private val TextU8 = UTF8String.fromString("text")
  private val TableU8 = UTF8String.fromString("table")
  private val ImageU8 = UTF8String.fromString("image")
  private val EmptyU8 = UTF8String.fromString("")

  private def utf8(s: String): UTF8String = if (s == null) null else UTF8String.fromString(s)
  private def idAt(row: InternalRow, o: Int): UTF8String = if (row.isNullAt(o)) null else row.getUTF8String(o)

  /** One kernel span from a row holding (kind, text, media_ref, offset) at
    * the given ordinals: `kind` is matched against cached UTF8String
    * constants (byte compare, interned result), `media_ref` is materialized
    * only when non-empty, and only `text` pays the UTF8String -> String
    * decode the kernel needs. */
  private def spanAt(r: InternalRow, k: Int, t: Int, m: Int, o: Int): Span = {
    val kU = if (r.isNullAt(k)) null else r.getUTF8String(k)
    val kind =
      if (kU == null) null
      else if (kU == TextU8) "text"
      else if (kU == ImageU8) "image"
      else if (kU == TableU8) "table"
      else kU.toString
    val text = if (r.isNullAt(t)) null else r.getUTF8String(t).toString
    val ref =
      if (r.isNullAt(m)) null
      else {
        val rU = r.getUTF8String(m)
        if (rU.numBytes == 0) "" else rU.toString
      }
    Span(kind, text, ref, if (r.isNullAt(o)) 0 else r.getInt(o))
  }

  /** A contract row as one UnsafeRow: one codegen'd projection writes the
    * whole ARRAY<STRUCT> in a single pass. The returned row is reused. */
  private final class ContractWriter extends (DocResult => InternalRow) {
    private val proj = UnsafeProjection.create(ContractSchema)
    def apply(r: DocResult): InternalRow = {
      val spanRows = new Array[Any](r.spans.length)
      var j = 0
      r.spans.foreach { sp =>
        val v = new Array[Any](4)
        v(0) = sp.kind match {
          case "text" => TextU8
          case "table" => TableU8
          case "image" => ImageU8
          case other => utf8(other)
        }
        v(1) = if (sp.text == null) null else if (sp.text.isEmpty) EmptyU8 else UTF8String.fromString(sp.text)
        v(2) = if (sp.media_ref == null) null
          else if (sp.media_ref.isEmpty) EmptyU8 else UTF8String.fromString(sp.media_ref)
        v(3) = sp.offset
        spanRows(j) = new GenericInternalRow(v)
        j += 1
      }
      proj(new GenericInternalRow(Array[Any](utf8(r.doc_id), new GenericArrayData(spanRows),
        r.num_pages, r.quarantined, utf8(r.error), utf8(r.error_code))))
    }
  }

  /** The row writer of one task for a shape; the returned row is reused. */
  private def writer(shape: Shape): DocResult => InternalRow = shape match {
    case Contract => new ContractWriter
    case Results => ResultEncoder.createSerializer()
  }

  /** The doc counters of one task, for the row-emitting kinds. */
  private final class DocCounters(m: Map[String, SQLMetric]) {
    private val docs = m("docs")
    private val pages = m("pages")
    private val spans = m("spans")
    private val quarantined = QuarantineCodes.map(c => c -> m(s"quarantined_$c")).toMap
    def apply(r: DocResult): Unit = {
      docs.add(1)
      pages.add(r.num_pages)
      spans.add(r.spans.length)
      if (r.quarantined) quarantined.get(r.error_code).foreach(_.add(1))
    }
  }

  private def docRows(rows: Iterator[InternalRow], in: Seq[Int], shape: Shape, cfg: ExtractConfig,
      m: Map[String, SQLMetric]): Iterator[InternalRow] = {
    val Seq(idO, spansO) = in
    val write = writer(shape)
    val countDoc = new DocCounters(m)
    val kernelTime = m("kernelTime")
    rows.map { row =>
      val docId = if (row.isNullAt(idO)) null else row.getUTF8String(idO).toString
      val spans =
        if (row.isNullAt(spansO)) null
        else {
          val arr = row.getArray(spansO)
          val out = new Array[Span](arr.numElements())
          var i = 0
          while (i < out.length) {
            if (!arr.isNullAt(i)) out(i) = spanAt(arr.getStruct(i, 4), 0, 1, 2, 3)
            i += 1
          }
          ArraySeq.unsafeWrapArray(out)
        }
      val t0 = System.nanoTime()
      val r = Extractor.extractDoc(RawDoc(docId, spans), cfg)
      kernelTime.add(System.nanoTime() - t0)
      countDoc(r)
      write(r)
    }
  }

  private def pageRows(rows: Iterator[InternalRow], in: Seq[Int], cfg: ExtractConfig,
      m: Map[String, SQLMetric]): Iterator[InternalRow] = {
    val Seq(idO, _, kindO, textO, refO, offO, pageO) = in
    val proj = UnsafeProjection.create(PageSchema)
    val serialize = PageEncoder.createSerializer()
    val pages = m("pages")
    val kernelTime = m("kernelTime")
    val it = rows.buffered
    new Iterator[InternalRow] {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = {
        val first = idAt(it.head, idO)
        val docId = if (first == null) null else first.clone()
        val pageNo = it.head.getInt(pageO)
        val buf = new ArrayBuffer[Span](64)
        while (it.hasNext && it.head.getInt(pageO) == pageNo && idAt(it.head, idO) == docId) {
          val row = it.next()
          if (pageNo != Int.MinValue) buf += spanAt(row, kindO, textO, refO, offO)
        }
        val out = Array[Any](docId, pageNo, null, null, null)
        if (pageNo != Int.MinValue) {
          val t0 = System.nanoTime()
          try {
            out(2) = serialize(Extractor.extractPage(pageNo, ArraySeq.unsafeWrapArray(buf.toArray), cfg))
            pages.add(1)
          } catch {
            case NonFatal(e) =>
              val q = Extractor.quarantined(if (docId == null) null else docId.toString, e)
              out(3) = utf8(q.error)
              out(4) = utf8(q.error_code)
          }
          kernelTime.add(System.nanoTime() - t0)
        }
        proj(new GenericInternalRow(out))
      }
    }
  }

  private def finalizeRows(rows: Iterator[InternalRow], in: Seq[Int], shape: Shape, cfg: ExtractConfig,
      m: Map[String, SQLMetric]): Iterator[InternalRow] = {
    val Seq(idO, pageNoO, pageO, errorO, codeO) = in
    val deserialize = PageDecoder.createDeserializer()
    val pageFields = PageEncoder.schema.length
    val write = writer(shape)
    val countDoc = new DocCounters(m)
    val kernelTime = m("kernelTime")
    val it = rows.buffered
    new Iterator[InternalRow] {
      override def hasNext: Boolean = it.hasNext
      override def next(): InternalRow = {
        val first = idAt(it.head, idO)
        val docIdU = if (first == null) null else first.clone()
        val pages = new ArrayBuffer[PageResult]
        var failed: InternalRow = null
        while (it.hasNext && idAt(it.head, idO) == docIdU) {
          val row = it.next()
          // sentinel runs only keep the doc represented; the first failed
          // page (lowest page_no) quarantines the doc, as on the narrow leg
          if (row.getInt(pageNoO) != Int.MinValue && failed == null) {
            if (row.isNullAt(errorO)) pages += deserialize(row.getStruct(pageO, pageFields))
            else failed = row.copy()
          }
        }
        val docId = if (docIdU == null) null else docIdU.toString
        val t0 = System.nanoTime()
        val r =
          if (failed != null)
            Extractor.quarantined(docId, failed.getUTF8String(errorO).toString, failed.getUTF8String(codeO).toString)
          else finalizePages(docId, pages.toVector, cfg)
        kernelTime.add(System.nanoTime() - t0)
        countDoc(r)
        write(r)
      }
    }
  }

  private[pipeline] def run(kind: Kind, shape: Shape, rows: Iterator[InternalRow], in: Seq[Int],
      cfg: ExtractConfig, m: Map[String, SQLMetric]): Iterator[InternalRow] = kind match {
    case Doc => docRows(rows, in, shape, cfg, m)
    case Page => pageRows(rows, in, cfg, m)
    case Finalize => finalizeRows(rows, in, shape, cfg, m)
  }

  /** Metric keys and display names of a kind: the row-emitting kinds count
    * the docs they write; `Page` counts the page kernels it ran. */
  private[pipeline] def metricNames(kind: Kind): Seq[(String, String)] = {
    val counts =
      if (kind == Page) Seq("pages" -> "number of pages")
      else Seq("docs" -> "number of docs", "pages" -> "number of pages", "spans" -> "number of spans out") ++
        QuarantineCodes.map(c => s"quarantined_$c" -> s"quarantined $c")
    counts :+ ("kernelTime" -> "kernel time")
  }
}

/** Physical [[GraftExtract]]: the kernel loop over the child's rows, with
  * its counters as SQL metrics (shown by `explain("formatted")` and sent to
  * listeners with every task). */
final case class GraftExtractExec(kind: GraftExtract.Kind, shape: GraftExtract.Shape, cfg: ExtractConfig,
    input: Seq[Attribute], output: Seq[Attribute], child: SparkPlan) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = GraftExtract.metricNames(kind).map {
    case (key, name) if key == "kernelTime" => key -> SQLMetrics.createNanoTimingMetric(sparkContext, name)
    case (key, name) => key -> SQLMetrics.createMetric(sparkContext, name)
  }.toMap

  override def producedAttributes: AttributeSet = outputSet
  override def nodeName: String = s"GraftExtractExec $kind"
  override protected def stringArgs: Iterator[Any] = Iterator.empty

  override protected def doExecute(): RDD[InternalRow] = {
    val in = input.map(a => child.output.indexWhere(_.exprId == a.exprId))
    val (k, s, c, m) = (kind, shape, cfg, metrics)
    child.execute().mapPartitions(rows => GraftExtract.run(k, s, rows, in, c, m))
  }

  override def verboseStringWithOperatorId(): String = {
    val values = GraftExtract.metricNames(kind).map { case (key, name) =>
      val v = math.max(0L, metrics(key).value)
      if (key == "kernelTime") s"$name: ${v / 1000000} ms" else s"$name: $v"
    }
    s"""
       |$formattedNodeName
       |${ExplainUtils.generateFieldString("Input", child.output)}
       |Metrics: ${values.mkString(", ")}
       |""".stripMargin
  }

  override protected def withNewChildInternal(newChild: SparkPlan): GraftExtractExec = copy(child = newChild)
}

/** Plans [[GraftExtract]] as [[GraftExtractExec]]. */
object GraftExtractStrategy extends SparkStrategy {
  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    case GraftExtract(kind, shape, cfg, input, output, child) =>
      GraftExtractExec(kind, shape, cfg, input, output, planLater(child)) :: Nil
    case _ => Nil
  }

  /** Adds the strategy to the session once; every entry that builds the
    * node calls this, so no session config is needed. */
  def install(spark: SparkSession): Unit = synchronized {
    val methods = spark.experimental
    if (!methods.extraStrategies.contains(this)) methods.extraStrategies = this +: methods.extraStrategies
  }
}
