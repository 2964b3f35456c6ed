package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Attribute, ExprId}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LogicalPlan, Project}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.functions._
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{ArrayType, StructType}
import scala.annotation.tailrec
import graft.io.TableIO
import graft.model._
import graft.kernel.Parse

/** The Dataset-level extraction pipeline.
  *
  * Shape (SURVEY.md §4.2): the whole per-document pipeline is one narrow
  * kernel operator — no shuffle for the common case. Parallelism = input
  * partitioning; the reference's per-page thread pool (core.py:184-205)
  * disappears.
  *
  * Plan: every entry, typed or not, batch or streaming, builds an ordinary
  * Catalyst plan around one logical node, [[GraftExtract]], planned as
  * [[GraftExtractExec]] by [[GraftExtractStrategy]] (installed on the
  * session by every entry). Its three kinds run the kernel over
  * `InternalRow`s: `Doc` (narrow leg), `Page` and `Finalize` (the giant
  * leg's scatter and regather); `Doc` and `Finalize` write the contract
  * columns or, for [[extract]], whole [[DocResult]]s through their encoder's
  * serializer. The plan is planned once, inside the
  * consuming action (or each micro-batch), keeps the scans visible to
  * `explain` (filter pushdown, column pruning), and carries no encoder
  * expression trees; each node reports docs, pages, spans, kernel time and
  * quarantines per error code as SQL metrics.
  *
  * Skew (north_rule: "salted repartitioning for skewed multi-hundred-page
  * documents"): docs whose span count exceeds `skewSpanThreshold` are
  * exploded into per-page work units, shuffled wide by (doc_id, page), page
  * kernels run in parallel, then re-grouped by doc_id with explicit page
  * ordering for the cheap doc-level finalize. What this buys is time: a
  * thousand-page document's page kernels spread over many tasks instead of
  * pinning one. It does not bound memory by the page: the giant leg's scan
  * still reads each giant as one row before the explode, and the regather
  * buffers every page result of a doc before its finalize. The leg is
  * planned only when the input may hold a giant (see [[splitContract]]).
  *
  * The page-split plan only exists for the core engine: the adaptive
  * fitz/plumber engines read page 0 only (loops commented out in the
  * reference), so both contract entry points route non-core configs down
  * the narrow path — splitting them would both change semantics and waste a
  * shuffle.
  */
object Extract {

  /** Typed narrow path: one doc per kernel call, in the `Doc` node writing
    * whole results. */
  def extract(ds: Dataset[RawDoc], cfg: ExtractConfig = ExtractConfig.default): Dataset[DocResult] =
    docLeg(ds.toDF(), GraftExtract.Results, cfg).as(Encoders.product[DocResult])

  /** The giant leg's scatter side: giant docs -> per-page work units, spread
    * wide by (doc_id, page_no), one `GraftExtract` Page kernel per page
    * (output [[GraftExtract.PageSchema]]). Callers pre-filter to the docs
    * above the skew threshold with a non-null doc_id (the table's primary
    * key — the narrow leg quarantines null ids). Core engine only (see
    * object scaladoc).
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
  private def pageLeg(big: DataFrame, cfg: ExtractConfig, pageParallelism: Int): DataFrame = {
    val parallelism = if (pageParallelism > 0) pageParallelism
      else big.sparkSession.sparkContext.defaultParallelism
    // Null span ELEMENTS become sentinel rows (page_no = Int.MinValue)
    // instead of being filtered out: a doc whose spans are ALL null would
    // otherwise emit zero units and silently VANISH from the output —
    // violating the quarantine-never-drop contract the narrow leg keeps
    // (the pre-r5 flatMap leg had the same hole). The regather discards
    // sentinels, so such docs finalize over zero pages exactly like the
    // narrow kernel. (Empty/null span ARRAYS cannot reach this leg: the
    // callers' size(spans) > threshold pre-filter excludes them.)
    // (a null offset reads as 0, as on the narrow leg)
    val offset = coalesce(col("s.offset"), lit(0))
    val units = big
      .select(col("doc_id"), posexplode(col("spans")))
      .withColumnRenamed("col", "s")
      .select(col("doc_id"), col("pos"),
        col("s.kind"), col("s.text"), col("s.media_ref"), offset.as("offset"),
        when(col("s").isNull, lit(Int.MinValue))
          .otherwise((offset / lit(Parse.SpansPerPage)).cast("int")).as("page_no"))
      .repartition(parallelism, col("doc_id"), col("page_no"))
      .sortWithinPartitions(col("doc_id"), col("page_no"), col("offset"), col("pos"))
    node(GraftExtract.Page, GraftExtract.Contract, cfg, units)
  }

  /** `child` under a `GraftExtract` node of the given kind and shape. */
  private[graft] def node(kind: GraftExtract.Kind, shape: GraftExtract.Shape, cfg: ExtractConfig,
      child: DataFrame): DataFrame = {
    val spark = child.sparkSession
    GraftExtractStrategy.install(spark)
    val plan = child.queryExecution.analyzed
    Bridge.dataFrame(spark, GraftExtract(kind, shape, cfg, plan.output,
      DataTypeUtils.toAttributes(GraftExtract.schemaOf(kind, shape)), plan))
  }

  /** The span struct the `Doc` kernel loop reads by field position. */
  private val SpanType: StructType =
    GraftExtract.ContractSchema("spans").dataType.asInstanceOf[ArrayType].elementType.asInstanceOf[StructType]

  /** The input's doc_id and spans. A span struct that does not start with
    * [[SpanType]]'s fields, in order and type, is rebuilt by field name (a
    * null element stays null), so any field order reads right; the
    * contract's own layout passes through untouched. */
  private def docColumns(input: DataFrame): DataFrame = {
    def fields(st: StructType) = st.fields.toSeq.map(f => (f.name, f.dataType))
    val spans = input.schema("spans").dataType match {
      case ArrayType(st: StructType, _) if fields(st).take(SpanType.length) == fields(SpanType) => col("spans")
      case _ => transform(col("spans"), s => when(s.isNotNull,
        struct(SpanType.fields.toSeq.map(f => s(f.name).cast(f.dataType).as(f.name)): _*)))
    }
    input.select(col("doc_id").cast("string").as("doc_id"), spans.as("spans"))
  }

  /** The `Doc` node over the input's doc_id and spans. */
  private def docLeg(input: DataFrame, shape: GraftExtract.Shape, cfg: ExtractConfig): DataFrame =
    node(GraftExtract.Doc, shape, cfg, docColumns(input))

  /** Extraction over the contract input table
    * (doc_id, spans ARRAY<STRUCT<kind,text,media_ref,offset>>), batch or
    * streaming: one `GraftExtract` Doc node, the single-copy InternalRow
    * kernel loop; returns the contract columns. */
  def extractSpansDF(input: DataFrame, cfg: ExtractConfig = ExtractConfig.default): DataFrame =
    docLeg(input, GraftExtract.Contract, cfg)

  /** The size split: docs at or below `skewSpanThreshold` take the Doc node,
    * giants take [[pageLeg]] and the regather per doc with explicit page
    * ordering into one `GraftExtract` Finalize kernel per doc. Both legs
    * read only doc_id and spans, write `shape` and produce identical rows,
    * so the split decides only where a doc's kernel runs.
    *
    * A giant is a doc whose `n_spans` column, when the input has one (the
    * managed table `TableIO.writeContractInput` writes, range-clustered by
    * it), exceeds the threshold (a null `n_spans` is none, as the footer
    * bound reads it): both legs' size predicates then reach the
    * parquet scan (`PushedFilters: [LessThanOrEqual/GreaterThan(n_spans,
    * ...)]`), so row-group min/max stats skip the non-matching groups.
    * Without it a giant has more spans than the threshold and a span
    * offset at or past it (a null offset reads as 0, as in the kernel), a
    * predicate evaluated on the scanned rows before any kernel.
    * The contract's offsets are distinct non-negative positions, so for
    * its docs the second conjunct follows from the first; it keeps narrow
    * only docs with more spans than the threshold on fewer than
    * threshold / SpansPerPage pages, which the page split could not spread
    * anyway.
    *
    * When the input's Parquet footers prove that no doc is a giant
    * ([[noGiants]]), the split is the Doc node alone: one scan, one stage,
    * no exchange. */
  private[graft] def splitContract(input: DataFrame, shape: GraftExtract.Shape, cfg: ExtractConfig,
      skewSpanThreshold: Int, pageParallelism: Int): DataFrame = {
    // page-0 engines take the narrow leg only
    if (cfg.engine != "core" || noGiants(input, skewSpanThreshold)) return docLeg(input, shape, cfg)
    // a null n_spans makes `giant` null; `unsized` keeps such docs narrow
    val (giant, unsized) =
      if (input.columns.contains("n_spans")) (col("n_spans") > skewSpanThreshold, col("n_spans").isNull)
      else (coalesce(size(col("spans")), lit(0)) > skewSpanThreshold &&
        exists(col("spans"), s => coalesce(s("offset"), lit(0)) >= skewSpanThreshold), lit(false))
    // giants with a null doc_id stay narrow, where they quarantine
    val narrow = docLeg(input.filter(!giant || unsized || col("doc_id").isNull), shape, cfg)
    val giants = docColumns(input.filter(giant && col("doc_id").isNotNull))
    narrow.unionByName(node(GraftExtract.Finalize, shape, cfg, pageLeg(giants, cfg, pageParallelism)
      .repartition(col("doc_id"))
      .sortWithinPartitions(col("doc_id"), col("page_no"))))
  }

  /** Whether the footers of the Parquet files the input reads its span
    * count from prove that no doc is a giant at `threshold`: every row
    * group's `n_spans` max is at most the threshold, or, without `n_spans`,
    * every row group's span offset max is below it. The column must come
    * straight from a local Parquet relation, through Filters and Projects
    * that keep it as it is; any other input proves nothing. */
  private def noGiants(input: DataFrame, threshold: Int): Boolean = {
    val (name, leaf, bound) =
      if (input.columns.contains("n_spans")) ("n_spans", Nil, threshold.toLong)
      else ("spans", Seq("list", "element", "offset"), threshold - 1L)
    val plan = input.queryExecution.analyzed
    plan.output.find(_.name == name).flatMap(a => parquetColumn(plan, a.exprId)).exists {
      case (files, column) => TableIO.int32AtMost(input.sparkSession, files, column +: leaf, bound)
    }
  }

  /** The files of the Parquet relation that attribute `id` of `plan` comes
    * from, and the attribute's column name there. */
  @tailrec private def parquetColumn(plan: LogicalPlan, id: ExprId): Option[(Seq[String], String)] = plan match {
    case Filter(_, child) => parquetColumn(child, id)
    case Project(list, child) if list.exists { case a: Attribute => a.exprId == id; case _ => false } =>
      parquetColumn(child, id)
    case r: LogicalRelation => r.relation match {
      case fs: HadoopFsRelation if fs.fileFormat.isInstanceOf[ParquetFileFormat] =>
        r.output.find(_.exprId == id).map(a => (fs.location.inputFiles.toSeq, a.name))
      case _ => None
    }
    case _ => None
  }

  /** [[extractContract]] over the parquet table at `path` (perfbench's
    * managed-table legs call it). */
  def extractContractFromTable(
      spark: SparkSession,
      path: String,
      cfg: ExtractConfig = ExtractConfig.default,
      skewSpanThreshold: Int = 512 * Parse.SpansPerPage,
      pageParallelism: Int = 0): DataFrame =
    extractContract(spark.read.parquet(path), cfg, skewSpanThreshold, pageParallelism)

  /** Production contract entry: input table -> output table, fast columnar
    * path for typical docs + page-split path for giants beyond
    * `skewSpanThreshold` (spans; default 512 pages' worth). Both legs
    * emit the contract schema. Over a local Parquet table whose footers
    * rule out giants the plan is the narrow leg alone, one scan; otherwise
    * it has two scans of the input (small leg + giant leg — the giant leg
    * feeds [[pageLeg]] directly, no third scan).
    *
    * Threshold guidance (measured): the page-split path costs two shuffles
    * (scatter pages, regather per doc), so it loses to whole-doc narrow
    * processing until a document is large enough to (a) threaten task memory
    * or (b) straggle a stage (docs-per-core near 1). ~500 pages is the local
    * crossover; tune per cluster. */
  def extractContract(
      input: DataFrame,
      cfg: ExtractConfig = ExtractConfig.default,
      skewSpanThreshold: Int = 512 * Parse.SpansPerPage,
      pageParallelism: Int = 0): DataFrame =
    splitContract(input, GraftExtract.Contract, cfg, skewSpanThreshold, pageParallelism)
}
