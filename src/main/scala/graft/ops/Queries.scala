package graft.ops

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession, Column}
import org.apache.spark.sql.functions._

/** Driver-contract query registry: one entry per implemented operator
  * (SURVEY.md §2) plus the training-data operators, each with a
  * DuckDB-equivalent oracle where SQL-expressible.
  *
  * Conventions for oracle parity:
  *   - every aggregate/computed column aliased identically on both sides
  *   - double sums of 2-decimal money rounded to 2 decimals (grid-exact)
  *   - DuckDB sum(INTEGER) returns HUGEINT -> oracles cast to BIGINT
  *   - timestamps surfaced as epoch microseconds (BIGINT) to dodge
  *     engine-specific parquet timestamp encodings
  */
object Queries {
  type Q = (SparkSession, String) => DataFrame

  private def doc(spark: SparkSession, sfDir: String): DataFrame =
    spark.read.parquet(s"$sfDir/documents.parquet")
  private def tbl(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Read-parallelism guard for kernel-heavy map stages (r6, guide §2.5):
    * a corpus that arrives as one sub-split-size parquet file plans a
    * single scan task, serializing the expensive per-row kernel downstream
    * on a many-core box. Spread rows round-robin ONLY when the input has
    * fewer partitions than cores — at warehouse scale the file count
    * already exceeds the core count and this is the identity. Apply AFTER
    * any pushable filters so scan pruning is unaffected. */
  private[graft] def spreadThin[T](ds: Dataset[T]): Dataset[T] = {
    val p = ds.sparkSession.sparkContext.defaultParallelism
    if (ds.rdd.getNumPartitions < p) ds.repartition(p) else ds
  }

  // -------------------------------------------------------------------
  // Extraction engine queries. The kernel itself is not SQL-expressible,
  // so their oracles SELECT from a MATERIALIZED expected table computed by
  // replaying the ACTUAL reference Python over the identical derived
  // inputs (graft.ExpectedDump -> tools/gen_expected.py -> the committed
  // resource graft/expected_docs.csv). graft.Verify copies the resource
  // next to its output and substitutes the __GRAFT_EXPECTED__ token with
  // the absolute CSV path before writing oracle_sql.json.
  // -------------------------------------------------------------------

  /** DuckDB relation over the reference-replay expected table, joined to the
    * sf's documents so only the corpus at hand is selected. */
  private val ExpectedCsv =
    """read_csv('__GRAFT_EXPECTED__', header=true,
      |  columns={'src_id':'BIGINT','doc_id':'VARCHAR','n_spans':'INTEGER','n_pages':'INTEGER',
      |           'text_len':'INTEGER','fitz_len':'INTEGER','plumber_len':'INTEGER'})""".stripMargin

  /** q01/q02's columns of the non-quarantined results. `length` counts code
    * points, as the reference's `len` does. */
  private def extractedCounts(results: DataFrame): DataFrame = results
    .filter(!col("quarantined"))
    .select(col("doc_id"), size(col("spans")).as("n_spans"), col("num_pages").as("n_pages"),
      length(col("text")).as("text_len"))

  private val qExtractSpans: Q = (spark, sfDir) =>
    extractedCounts(graft.pipeline.Extract.extract(graft.SparkEntry.rawDocs(spark, sfDir)).toDF())
  private val oExtractSpans =
    s"""SELECT e.doc_id, e.n_spans, e.n_pages, e.text_len
       |FROM documents d JOIN $ExpectedCsv e ON d.doc_id = e.src_id""".stripMargin

  private val qExtractSkewAware: Q = (spark, sfDir) => {
    // Materialize the GENERATED corpus once (r6): the small/big split of
    // Extract.extractContract's two legs consumes its input twice (two
    // size-filter branches). Only a local parquet table whose footers rule
    // out giants gets the one-scan plan; q02's input is an expensive opaque
    // generator (rawDocs maps every id through Fixtures.gen) with no
    // footers, so the split would re-generate the whole corpus to find the
    // giants. A lazy localCheckpoint computes gen once and both branches
    // read the blocks — guide §5's reuse-not-recompute case; at cluster
    // scale this is exactly "materialize the expensive input, then split",
    // never a cache of results across runs.
    val docs = graft.SparkEntry.rawDocs(spark, sfDir).toDF().localCheckpoint(eager = false)
    // Extract.extractContract's two legs (narrow kernel below the span
    // threshold, page-split scatter/regather above it) at an 8-page
    // threshold, both writing whole results
    extractedCounts(graft.pipeline.Extract.splitContract(docs, graft.pipeline.GraftExtract.Results,
      graft.model.ExtractConfig.default, 8 * graft.kernel.Parse.SpansPerPage, 0))
  }

  private val qAdaptiveEngines: Q = (spark, sfDir) => {
    import spark.implicits._
    val docs = graft.SparkEntry.rawDocs(spark, sfDir)
    // ONE scan, both engine kernels per row (VERDICT r02: the former two-leg
    // union scanned + deserialized the corpus twice — the q03 regression was
    // pure duplicated input work; both adaptive engines are page-0-only and
    // cheap relative to the scan).
    docs.mapPartitions { it =>
      val fitzCfg = graft.model.ExtractConfig.default.copy(engine = "fitz")
      val plumberCfg = graft.model.ExtractConfig.default.copy(engine = "plumber")
      it.flatMap { d =>
        val f = graft.kernel.Extractor.extractDoc(d, fitzCfg)
        val p = graft.kernel.Extractor.extractDoc(d, plumberCfg)
        Iterator((f.doc_id, "fitz", f.text.length), (p.doc_id, "plumber", p.text.length))
      }
    }.toDF("doc_id", "engine", "text_len")
  }
  private val oAdaptiveEngines =
    s"""WITH j AS (SELECT e.doc_id, e.fitz_len, e.plumber_len
       |  FROM documents d JOIN $ExpectedCsv e ON d.doc_id = e.src_id)
       |SELECT doc_id, 'fitz' AS engine, fitz_len AS text_len FROM j
       |UNION ALL
       |SELECT doc_id, 'plumber' AS engine, plumber_len AS text_len FROM j""".stripMargin

  /** The production contract pipeline (array-columnar fast path +
    * page-split leg): input table -> output span table. */
  private val qExtractContract: Q = (spark, sfDir) => {
    // lazy localCheckpoint (r6, q02's fix): extractContract scans its input
    // twice (small leg + giant leg) unless it is a local parquet table whose
    // footers rule out giants; this input is the opaque generator, so the
    // giant-finding scan would re-generate the whole corpus. Lazy is safe
    // here: the giant leg's exchange stage materializes the blocks before
    // the final narrow stage reads them.
    val input = graft.SparkEntry.rawDocs(spark, sfDir).toDF().localCheckpoint(eager = false)
    graft.pipeline.Extract.extractContract(input)
      .selectExpr("doc_id", "coalesce(size(spans), 0) AS n_spans", "num_pages", "quarantined")
  }
  private val oExtractContract =
    s"""SELECT e.doc_id, e.n_spans, e.n_pages AS num_pages, false AS quarantined
       |FROM documents d JOIN $ExpectedCsv e ON d.doc_id = e.src_id""".stripMargin

  // -------------------------------------------------------------------
  // SQL-expressible extraction operators (Catalyst; DuckDB oracle)
  // -------------------------------------------------------------------

  /** Title predicate (layout_processor.py:42-49) over a derived font size. */
  private val qTitleClassify: Q = (spark, sfDir) => {
    val fontSize = lit(10) + col("doc_id") % 10
    doc(spark, sfDir).select(
      col("doc_id"),
      fontSize.as("font_size"),
      when(fontSize > 14, "title").otherwise("text").as("block_type"))
  }
  private val oTitleClassify =
    """SELECT doc_id, 10 + doc_id % 10 AS font_size,
      |CASE WHEN 10 + doc_id % 10 > 14 THEN 'title' ELSE 'text' END AS block_type
      |FROM documents""".stripMargin

  /** Header/footer geometric band predicate (layout_processor.py:51-89)
    * over derived geometry. */
  private val qBandClassify: Q = (spark, sfDir) => {
    val yTop = (col("doc_id") % 40) * 15.0
    val yBottom = yTop + 18.0
    val h = lit(600.0)
    doc(spark, sfDir).select(
      col("doc_id"),
      yTop.as("y_top"),
      when(yTop < h * 0.05 && yBottom < h * 0.10, "header")
        .when(yBottom > h * 0.95 && yTop > h * 0.90, "footer")
        .otherwise("text").as("band"))
  }
  private val oBandClassify =
    """SELECT doc_id, CAST(doc_id % 40 AS DOUBLE) * 15.0 AS y_top,
      |CASE WHEN CAST(doc_id % 40 AS DOUBLE) * 15.0 < 30.0 AND CAST(doc_id % 40 AS DOUBLE) * 15.0 + 18.0 < 60.0 THEN 'header'
      |     WHEN CAST(doc_id % 40 AS DOUBLE) * 15.0 + 18.0 > 570.0 AND CAST(doc_id % 40 AS DOUBLE) * 15.0 > 540.0 THEN 'footer'
      |     ELSE 'text' END AS band
      |FROM documents""".stripMargin

  /** Footer regex classifier (layout_processor.py:158-181) as rlike, applied
    * to synthesized footer-ish strings so every pattern branch fires. */
  private val qFooterRegex: Q = (spark, sfDir) => {
    val t = when(col("doc_id") % 5 === 0, concat(lit("Page "), col("doc_id")))
      .when(col("doc_id") % 5 === 1, col("doc_id").cast("string"))
      .when(col("doc_id") % 5 === 2, concat(lit("Copyright "), lit(2020) + col("doc_id") % 6))
      .when(col("doc_id") % 5 === 3, lit("Confidential draft"))
      .otherwise(concat(lit("body text "), col("doc_id")))
    doc(spark, sfDir).select(
      col("doc_id"),
      t.as("t"),
      (t.rlike("^Page\\s+\\d+") || t.rlike("^\\d+$") || t.rlike("^Copyright\\s+\\d{4}") ||
        t.rlike("^(Confidential|Internal|Draft)")).as("is_footer"))
  }
  private val oFooterRegex =
    """WITH s AS (SELECT doc_id,
      |  CASE WHEN doc_id % 5 = 0 THEN 'Page ' || doc_id
      |       WHEN doc_id % 5 = 1 THEN CAST(doc_id AS VARCHAR)
      |       WHEN doc_id % 5 = 2 THEN 'Copyright ' || (2020 + doc_id % 6)
      |       WHEN doc_id % 5 = 3 THEN 'Confidential draft'
      |       ELSE 'body text ' || doc_id END AS t FROM documents)
      |SELECT doc_id, t,
      |  (regexp_matches(t, '^Page\s+\d+') OR regexp_matches(t, '^\d+$')
      |   OR regexp_matches(t, '^Copyright\s+\d{4}')
      |   OR regexp_matches(t, '^(Confidential|Internal|Draft)')) AS is_footer
      |FROM s""".stripMargin

  /** OCR gate (core.py:267-278): text length < 50. */
  private val qOcrGate: Q = (spark, sfDir) =>
    doc(spark, sfDir).select(
      col("doc_id"),
      (length(col("text")) < 50).as("needs_ocr"))
  private val oOcrGate =
    "SELECT doc_id, length(text) < 50 AS needs_ocr FROM documents"

  /** Text cleaning (text_processor.py:60-68) as a Catalyst expression. */
  private val qTextClean: Q = (spark, sfDir) =>
    doc(spark, sfDir).select(
      col("doc_id"),
      TextOps.cleanLines(col("text")).as("clean_text"))
  private val oTextClean =
    """SELECT doc_id,
      |array_to_string(list_transform(string_split(text, chr(10)),
      |  l -> regexp_replace(trim(l), '\s+', ' ', 'g')), chr(10)) AS clean_text
      |FROM documents""".stripMargin

  /** Bbox union aggregation (pdf_processor.py:259-269): min/max over a
    * derived per-doc coordinate group. */
  private val qBBoxUnion: Q = (spark, sfDir) =>
    tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        (col("l_partkey") % 800).cast("double").as("x0"),
        (col("l_suppkey") % 600).cast("double").as("top"))
      .groupBy("l_orderkey")
      .agg(
        min("x0").as("bx0"), min("top").as("by0"),
        max("x0").as("bx1"), max("top").as("by1"),
        count(lit(1)).as("n"))
  private val oBBoxUnion =
    """SELECT l_orderkey,
      |min(CAST(l_partkey % 800 AS DOUBLE)) AS bx0, min(CAST(l_suppkey % 600 AS DOUBLE)) AS by0,
      |max(CAST(l_partkey % 800 AS DOUBLE)) AS bx1, max(CAST(l_suppkey % 600 AS DOUBLE)) AS by1,
      |count(*) AS n
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** Gaps-and-islands run segmentation (pdf_processor.py:234-257 pattern):
    * change-flag + running sum over an ordered stream. */
  private val qRunSegments: Q = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
    tbl(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("event_type"))
      .withColumn("chg",
        when(lag("event_type", 1).over(w).isNull ||
          lag("event_type", 1).over(w) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("segment_id", sum("chg").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("event_id", "user_id", "event_type", "segment_id")
  }
  private val oRunSegments =
    """WITH flagged AS (
      |  SELECT event_id, user_id, event_type,
      |    CASE WHEN lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) IS NULL
      |          OR lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) <> event_type
      |         THEN 1 ELSE 0 END AS chg
      |  FROM events)
      |SELECT event_id, user_id, event_type,
      |  CAST(sum(chg) OVER (PARTITION BY user_id ORDER BY event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS segment_id
      |FROM flagged""".stripMargin

  /** Column assignment bucketing (layout_processor.py:299-334):
    * floor(center / column_width) clamped. */
  private val qColumnAssign: Q = (spark, sfDir) => {
    val centerX = (col("doc_id") * 37) % 800
    doc(spark, sfDir).select(
      col("doc_id"),
      centerX.cast("double").as("center_x"),
      least(greatest(floor(centerX / (lit(800.0) / 2)), lit(0)), lit(1)).cast("int").as("column_id"))
  }
  private val oColumnAssign =
    """SELECT doc_id, CAST((doc_id * 37) % 800 AS DOUBLE) AS center_x,
      |CAST(least(greatest(floor(((doc_id * 37) % 800) / 400.0), 0), 1) AS INTEGER) AS column_id
      |FROM documents""".stripMargin

  /** Histogram (layout_processor.py:256): fixed-width bucket counts. */
  private val qHistogram: Q = (spark, sfDir) =>
    tbl(spark, sfDir, "lineitem")
      .select(floor(col("l_extendedprice") / 1000).cast("long").as("bucket"))
      .groupBy("bucket").agg(count(lit(1)).as("cnt"))
  private val oHistogram =
    """SELECT CAST(floor(l_extendedprice / 1000) AS BIGINT) AS bucket, count(*) AS cnt
      |FROM lineitem GROUP BY 1""".stripMargin

  /** Column-count estimate when-chain (layout_processor.py:279-297). */
  private val qColumnEstimate: Q = (spark, sfDir) => {
    val gap = (col("doc_id") % 200).cast("double")
    doc(spark, sfDir).select(
      col("doc_id"), gap.as("avg_gap"),
      when(gap > 800 * 0.15, 2).when(gap > 800 * 0.08, 3).otherwise(4).as("k"))
  }
  private val oColumnEstimate =
    """SELECT doc_id, CAST(doc_id % 200 AS DOUBLE) AS avg_gap,
      |CASE WHEN doc_id % 200 > 120.0 THEN 2 WHEN doc_id % 200 > 64.0 THEN 3 ELSE 4 END AS k
      |FROM documents""".stripMargin

  /** Reading-order sort for k>=3 (layout_processor.py:358-366): rank within
    * page by (column, y). */
  private val qReadingOrderK3: Q = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val colId = col("event_id") % 3
    val y = col("event_id") % 97
    val w = Window.partitionBy("user_id").orderBy(colId.asc, y.asc, col("event_id").asc)
    tbl(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), colId.as("column_id"), y.as("y"))
      .withColumn("reading_rank", row_number().over(w))
  }
  private val oReadingOrderK3 =
    """SELECT event_id, user_id, event_id % 3 AS column_id, event_id % 97 AS y,
      |CAST(row_number() OVER (PARTITION BY user_id
      |  ORDER BY event_id % 3, event_id % 97, event_id) AS INTEGER) AS reading_rank
      |FROM events""".stripMargin

  /** Table normalization (table_processor.py:38-72): posexplode cells with
    * is_header = (row position == 0). */
  private val qTableNormalize: Q = (spark, sfDir) =>
    tbl(spark, sfDir, "part")
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
      .select(
        col("p_partkey"),
        col("pos").cast("int").as("cell_col"),
        col("col").as("cell_text"),
        (col("pos") === 0).as("is_header"))
  private val oTableNormalize =
    """SELECT p_partkey,
      |CAST(generate_subscripts(string_split(p_name, ' '), 1) - 1 AS INTEGER) AS cell_col,
      |unnest(string_split(p_name, ' ')) AS cell_text,
      |(generate_subscripts(string_split(p_name, ' '), 1) - 1) = 0 AS is_header
      |FROM part""".stripMargin

  // -------------------------------------------------------------------
  // Relational core (aggregation / join / window / top-k)
  // -------------------------------------------------------------------

  private val qAggPushdown: Q = (spark, sfDir) =>
    tbl(spark, sfDir, "lineitem")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        round(sum("l_extendedprice"), 2).as("sum_price"),
        count(lit(1)).as("cnt"))
  private val oAggPushdown =
    """SELECT l_returnflag, l_linestatus,
      |round(sum(l_quantity), 2) AS sum_qty,
      |round(sum(l_extendedprice), 2) AS sum_price,
      |count(*) AS cnt
      |FROM lineitem GROUP BY l_returnflag, l_linestatus""".stripMargin

  private val qBroadcastJoin: Q = (spark, sfDir) => {
    val orders = tbl(spark, sfDir, "orders")
    val customer = tbl(spark, sfDir, "customer")
    val nation = tbl(spark, sfDir, "nation")
    orders
      .join(broadcast(customer), col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .groupBy("n_name")
      .agg(count(lit(1)).as("n_orders"), round(sum("o_totalprice"), 2).as("revenue"))
  }
  private val oBroadcastJoin =
    """SELECT n_name, count(*) AS n_orders, round(sum(o_totalprice), 2) AS revenue
      |FROM orders JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |GROUP BY n_name""".stripMargin

  private val qWindowRunning: Q = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    tbl(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"),
        round(sum("value").over(w), 2).as("running_value"))
  }
  private val oWindowRunning =
    """SELECT event_id, user_id,
      |round(sum(value) OVER (PARTITION BY user_id ORDER BY event_id
      |  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_value
      |FROM events""".stripMargin

  private val qTopK: Q = (spark, sfDir) =>
    tbl(spark, sfDir, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      .limit(25)
      .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("total"))
  private val oTopK =
    """SELECT o_orderkey, round(o_totalprice, 2) AS total FROM orders
      |ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 25""".stripMargin

  /** Majority vote (layout_processor.py:450-465) expressed relationally:
    * three derived detectors per doc, count-based vote with detector-1
    * tiebreak. */
  private val qModeVote: Q = (spark, sfDir) => {
    val d1 = (col("doc_id") % 3 + 1).cast("int")
    val d2 = (col("doc_id") % 4 + 1).cast("int")
    val d3 = ((col("doc_id") + 1) % 3 + 1).cast("int")
    val c1 = lit(1) + when(d1 === d2, 1).otherwise(0) + when(d1 === d3, 1).otherwise(0)
    val c2 = lit(1) + when(d2 === d1, 1).otherwise(0) + when(d2 === d3, 1).otherwise(0)
    val c3 = lit(1) + when(d3 === d1, 1).otherwise(0) + when(d3 === d2, 1).otherwise(0)
    doc(spark, sfDir).select(
      col("doc_id"), d1.as("d1"), d2.as("d2"), d3.as("d3"),
      when(c1 >= c2 && c1 >= c3, d1).when(c2 >= c3, d2).otherwise(d3).as("vote"))
  }
  private val oModeVote =
    """WITH d AS (SELECT doc_id,
      |  CAST(doc_id % 3 + 1 AS INTEGER) AS d1,
      |  CAST(doc_id % 4 + 1 AS INTEGER) AS d2,
      |  CAST((doc_id + 1) % 3 + 1 AS INTEGER) AS d3 FROM documents),
      |c AS (SELECT *,
      |  1 + CASE WHEN d1=d2 THEN 1 ELSE 0 END + CASE WHEN d1=d3 THEN 1 ELSE 0 END AS c1,
      |  1 + CASE WHEN d2=d1 THEN 1 ELSE 0 END + CASE WHEN d2=d3 THEN 1 ELSE 0 END AS c2,
      |  1 + CASE WHEN d3=d1 THEN 1 ELSE 0 END + CASE WHEN d3=d2 THEN 1 ELSE 0 END AS c3 FROM d)
      |SELECT doc_id, d1, d2, d3,
      |  CASE WHEN c1 >= c2 AND c1 >= c3 THEN d1 WHEN c2 >= c3 THEN d2 ELSE d3 END AS vote
      |FROM c""".stripMargin

  // -------------------------------------------------------------------
  // Training-data operators: text analysis
  // -------------------------------------------------------------------

  private val qTokenCount: Q = (spark, sfDir) =>
    doc(spark, sfDir).select(
      col("doc_id"),
      TextOps.tokenCount(col("text")).as("n_tokens"),
      TextOps.subwordCount(col("text")).as("n_subwords"))
  private val oTokenCount =
    """SELECT doc_id,
      |CASE WHEN length(trim(text)) = 0 THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS n_tokens,
      |CAST(list_sum(list_transform(regexp_split_to_array(trim(text), '\s+'),
      |  w -> CAST(ceil(length(w) / 4.0) AS BIGINT))) AS BIGINT) AS n_subwords
      |FROM documents""".stripMargin

  private val qLangId: Q = (spark, sfDir) => {
    import spark.implicits._
    // a kernel: one text pass, where a Column form pays a full-text
    // regexp_replace plus a split+filter HOF per row
    doc(spark, sfDir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (lang, hits) = TextOps.langIdKernel(t)
        (id, lang, hits)
      })
      .toDF("doc_id", "lang_guess", "stop_hits")
  }
  private val oLangId =
    """WITH s AS (SELECT doc_id, text,
      |  len(list_filter(string_split(lower(trim(text)), ' '),
      |    w -> w IN ('the','and','of','to','a','in','is','for'))) AS stop_hits,
      |  length(text) AS total,
      |  length(text) - length(regexp_replace(text, '[一-鿿]', '', 'g')) AS cjk
      |  FROM documents)
      |SELECT doc_id,
      |  CASE WHEN total > 0 AND cjk / CAST(total AS DOUBLE) > 0.3 THEN 'zh'
      |       WHEN stop_hits > 0 THEN 'en' ELSE 'unknown' END AS lang_guess,
      |  CAST(stop_hits AS INTEGER) AS stop_hits
      |FROM s""".stripMargin

  private val qQualityScore: Q = (spark, sfDir) => {
    import spark.implicits._
    // kernel twin (precedent q22/q39): identical values to the Column form
    // [[TextOps.qualityScore]] (which remains the declarative API), one
    // text pass instead of two regexp_replaces + a HOF filter per row —
    // and bench-stable across windows (VERDICT r03 #1)
    doc(spark, sfDir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextOps.qualityScoreKernel(t)) })
      .toDF("doc_id", "quality")
  }
  private val oQualityScore =
    """WITH s AS (SELECT doc_id, trim(text) AS t FROM documents),
      |m AS (SELECT doc_id,
      |  CAST(length(t) AS DOUBLE) AS chars,
      |  CAST(CASE WHEN length(t) = 0 THEN 0 ELSE len(regexp_split_to_array(t, '\s+')) END AS DOUBLE) AS words,
      |  CAST(length(t) - length(regexp_replace(t, '[\.,;:!\?]', '', 'g')) AS DOUBLE) AS punct,
      |  len(list_filter(string_split(lower(t), ' '),
      |    w -> w IN ('the','and','of','to','a','in','is','for'))) AS stop_hits
      |  FROM s)
      |SELECT doc_id, round((
      |  (CASE WHEN chars >= 100 AND chars <= 20000 THEN 1.0 ELSE 0.0 END) +
      |  (CASE WHEN (CASE WHEN chars > 0 THEN punct / chars ELSE 0.0 END) <= 0.1 THEN 1.0 ELSE 0.0 END) +
      |  (CASE WHEN (CASE WHEN words > 0 THEN chars / words ELSE 0.0 END) BETWEEN 3 AND 12 THEN 1.0 ELSE 0.0 END) +
      |  least((CASE WHEN words > 0 THEN stop_hits / words ELSE 0.0 END) * 5, 1.0)
      |) / 4, 4) AS quality
      |FROM m""".stripMargin

  private val qFingerprint: Q = (spark, sfDir) =>
    doc(spark, sfDir).select(
      col("doc_id"),
      TextOps.fingerprint(col("text")).as("fp"))
  private val oFingerprint =
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents""".stripMargin

  // -------------------------------------------------------------------
  // Training-data operators: deduplication
  // -------------------------------------------------------------------

  private val qDedupExact: Q = (spark, sfDir) =>
    doc(spark, sfDir)
      .select(col("doc_id"), TextOps.fingerprint(col("text")).as("fp"))
      .groupBy("fp")
      .agg(min("doc_id").as("keep_doc_id"), count(lit(1)).as("dup_count"))
  private val oDedupExact =
    """SELECT md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp,
      |min(doc_id) AS keep_doc_id, count(*) AS dup_count
      |FROM documents GROUP BY 1""".stripMargin

  private val qNgramJaccard: Q = (spark, sfDir) => {
    import spark.implicits._
    // localCheckpoint (r6): the self-join's two sides key on DIFFERENT
    // expressions (doc_id+1 vs doc_id), so their exchanges never unify and
    // the shingling mapPartitions subtree was evaluated twice — one full
    // shingle pass per side. Materializing the slim (doc_id, shingles)
    // frame once halves the shingle work; at scale this is the standard
    // materialize-the-proxy-table step (guide §3.3), corpus bytes never
    // duplicated. EAGER: the two join sides are concurrent AQE stages — a
    // lazy checkpoint makes them race and compute the pass twice.
    val d = spreadThin(doc(spark, sfDir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextOps.wordShinglesKernel(t, 3)) })
      .toDF("doc_id", "sh")
      .localCheckpoint()
    val a = d.as("a"); val b = d.as("b")
    // equi-join on the shifted key, NO broadcast hint: both sides are
    // corpus-sized (a broadcast of every document's shingle array is a
    // driver/executor OOM at 100 TB — VERDICT r01); shuffle hash/sort-merge
    // on doc_id scales, and AQE may still broadcast at tiny SFs.
    a.join(b, col("a.doc_id") + 1 === col("b.doc_id"))
      .select(
        col("a.doc_id").as("doc_a"),
        col("b.doc_id").as("doc_b"),
        round(TextOps.jaccard(col("a.sh"), col("b.sh")), 4).as("jaccard3"))
  }
  private val oNgramJaccard =
    """WITH sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(string_split(lower(trim(text)), ' ')) < 3
      |    THEN [array_to_string(string_split(lower(trim(text)), ' '), ' ')]
      |    ELSE list_transform(range(0, len(string_split(lower(trim(text)), ' ')) - 2),
      |      i -> array_to_string(string_split(lower(trim(text)), ' ')[i+1:i+3], ' ')) END) AS s
      |  FROM documents)
      |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |  round(CASE WHEN len(list_distinct(a.s || b.s)) = 0 THEN 0.0
      |    ELSE CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) /
      |         len(list_distinct(a.s || b.s)) END, 4) AS jaccard3
      |FROM sh a JOIN sh b ON a.doc_id + 1 = b.doc_id""".stripMargin

  private val qMinhash: Q = (spark, sfDir) => {
    import spark.implicits._
    // a kernel: the oracle's md5 stream (hash32 of token#i), one digest per
    // (distinct token, i) in plain Scala instead of a nested HOF form
    spreadThin(doc(spark, sfDir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val sig = TextOps.minhashSigKernel(t, 8)
        Iterator.tabulate(8)(i => (id, i, sig(i)))
      })
      .toDF("doc_id", "h", "minhash")
  }
  private val oMinhash = {
    val hashes = (0 until 8).map { i =>
      s"""(SELECT min(('0x' || substr(md5(w || '#$i'), 1, 8))::BIGINT)
         | FROM unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS t(w))""".stripMargin
    }
    s"""WITH sigs AS (SELECT doc_id, ${hashes.zipWithIndex.map { case (h, i) => s"$h AS h$i" }.mkString(", ")}
       |FROM documents)
       |${(0 until 8).map(i => s"SELECT doc_id, $i AS h, h$i AS minhash FROM sigs").mkString("\nUNION ALL\n")}""".stripMargin
  }

  /** MinHash-LSH banding: 4 bands x 2 rows over the 8-value signature.
    * Scale-honest shape: per-bucket groups (count + representative), NOT
    * materialized candidate pairs — pairs are quadratic in bucket size and
    * explode on skewed buckets at 100 TB; dedup keeps min(doc_id) per
    * bucket instead. */
  private val qMinhashLshBuckets: Q = (spark, sfDir) => {
    import spark.implicits._
    spreadThin(doc(spark, sfDir).select(col("doc_id"), col("text"))).as[(Long, String)]
      .mapPartitions(_.flatMap { case (id, t) =>
        val sig = TextOps.minhashSigKernel(t, 8)
        Iterator.tabulate(4)(b => (id, b, TextOps.md5Hex(sig(2 * b) + "," + sig(2 * b + 1))))
      })
      .toDF("doc_id", "band", "band_key")
      .groupBy("band", "band_key")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
      .filter(col("n_docs") >= 2)
  }
  private val oMinhashLshBuckets = {
    val hashes = (0 until 8).map { i =>
      s"""(SELECT min(('0x' || substr(md5(w || '#$i'), 1, 8))::BIGINT)
         | FROM unnest(list_distinct(string_split(lower(trim(text)), ' '))) AS t(w))""".stripMargin
    }
    s"""WITH sigs AS (SELECT doc_id, ${hashes.zipWithIndex.map { case (h, i) => s"$h AS h$i" }.mkString(", ")}
       |FROM documents),
       |bands AS (
       |${(0 until 4).map(b => s"SELECT doc_id, $b AS band, md5(CAST(h${2 * b} AS VARCHAR) || ',' || CAST(h${2 * b + 1} AS VARCHAR)) AS band_key FROM sigs").mkString("\nUNION ALL\n")})
       |SELECT band, band_key, count(*) AS n_docs, min(doc_id) AS keep_doc_id
       |FROM bands GROUP BY band, band_key HAVING count(*) >= 2""".stripMargin
  }

  private val qSimhash: Q = (spark, sfDir) => {
    import spark.implicits._
    doc(spark, sfDir).select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .mapPartitions(_.map { case (id, t) => (id, TextOps.simhash32Kernel(t)) })
      .toDF("doc_id", "simhash")
  }
  private val oSimhash =
    """WITH w AS (SELECT doc_id, string_split(lower(trim(text)), ' ') AS words FROM documents)
      |SELECT doc_id,
      |CAST(list_sum(list_transform(range(0, 32), b ->
      |  CASE WHEN list_sum(list_transform(words, t ->
      |    CASE WHEN (('0x' || substr(md5(t), 1, 8))::BIGINT >> b) & 1 = 1 THEN 1 ELSE -1 END)) > 0
      |  THEN (1::BIGINT << b) ELSE 0 END)) AS BIGINT) AS simhash
      |FROM w""".stripMargin

  // -------------------------------------------------------------------
  // Training-data operators: similarity search over embeddings
  // -------------------------------------------------------------------

  /** Brute-force cosine top-5 for the first 10 query vectors.
    * r6: the bounded probe side (10 vectors) ships as an explicit broadcast
    * probed by a kernel inside the corpus mapPartitions (q34's shape) —
    * same left-to-right FP summation and Spark HALF_UP rounding as the
    * former zip_with/aggregate HOF cross-join, which paid a per-pair
    * expression-tree walk plus the 10x row duplication of the cross join.
    * The probe filter stays a column predicate so it prunes at the reader. */
  private val qCosineTopK: Q = (spark, sfDir) => {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val emb = tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
    val probes = emb.filter(col("vec_id") < 10).collect()
      .map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
    require(probes.length <= 10, s"q30 probe collect is bounded by 10 vectors, got ${probes.length}")
    val bc = spark.sparkContext.broadcast(probes)
    val scored = emb.mapPartitions { it =>
      val qs = bc.value
      it.flatMap { case (nid, vSeq) =>
        val v = vSeq.toArray
        var nv = 0.0
        var i = 0
        while (i < v.length) { nv += v(i) * v(i); i += 1 }
        val nvRoot = math.sqrt(nv)
        qs.iterator.flatMap { case (qid, qv) =>
          if (qid == nid) Iterator.empty
          else {
            var dot = 0.0
            var nq = 0.0
            var j = 0
            while (j < qv.length && j < v.length) { dot += qv(j) * v(j); j += 1 }
            j = 0
            while (j < qv.length) { nq += qv(j) * qv(j); j += 1 }
            Iterator.single((qid, nid, TextOps.round6Kernel(dot / (math.sqrt(nq) * nvRoot))))
          }
        }
      }
    }.toDF("q_id", "neighbor_id", "cosine")
    val w = Window.partitionBy("q_id").orderBy(col("cosine").desc, col("neighbor_id").asc)
    scored.withColumn("rank", row_number().over(w)).filter(col("rank") <= 5)
  }
  private val oCosineTopK =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
      |scored AS (
      |  SELECT q_id, e.vec_id AS neighbor_id,
      |    round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) /
      |      (sqrt(list_sum(list_transform(qv, x -> x * x))) *
      |       sqrt(list_sum(list_transform(v, x -> x * x)))), 6) AS cosine
      |  FROM q, e WHERE q_id <> e.vec_id)
      |SELECT q_id, neighbor_id, cosine,
      |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
      |FROM scored QUALIFY rank <= 5""".stripMargin

  /** LSH-bucketed ANN: random-hyperplane signs from the deterministic hash32
    * stream bucket vectors; per-bucket sizes as the scale-path diagnostic.
    * The sign weights are data-independent, so they are precomputed ONCE as
    * array literals (plane p, dim i weight = +1/-1 by bit 0 of
    * hash32("p#i")) — the previous form re-derived the md5 stream per ROW:
    * planes x dims x rows md5 calls for constants (VERDICT r01). */
  private val qAnnLshBuckets: Q = (spark, sfDir) => {
    val emb = tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("label"), col("embedding").cast("array<double>").as("v"))
    // Signs are data-independent constants, precomputed up to MaxDim and
    // SLICED to each row's length — no eager head() during plan
    // construction, and rows with non-uniform dims hash correctly instead
    // of null-padding through zip_with (ADVICE r02).
    val MaxDim = 512
    val bucket = (0 until 8).map { p =>
      val signs = (0 until MaxDim).map(i =>
        if ((TextOps.hash32Kernel(s"$p#$i") & 1L) == 1L) 1.0 else -1.0)
      val dot = aggregate(
        zip_with(col("v"), slice(typedLit(signs), lit(1), size(col("v"))), (x, s) => x * s),
        lit(0.0), (a, x) => a + x)
      when(dot > 0, shiftleft(lit(1), p)).otherwise(0)
    }.reduce(_ + _)
    // Fail LOUDLY on an embedding longer than the precomputed sign table:
    // past MaxDim the zip_with would null-pad, the dot would go null, and
    // `otherwise(0)` would silently zero that hash bit — wrong buckets with
    // no error (ADVICE r03). raise_error surfaces the dimension instead.
    val guarded = when(size(col("v")) <= MaxDim, col("v"))
      .otherwise(raise_error(concat(
        lit("graft q31: embedding dimension "), size(col("v")).cast("string"),
        lit(s" exceeds the precomputed sign table (MaxDim=$MaxDim); raise MaxDim"))))
    emb.select(col("vec_id"), col("label"), guarded.as("v"))
      .select(col("vec_id"), col("label"), bucket.as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"), min("vec_id").as("min_vec_id"))
  }
  private val oAnnLshBuckets =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |b AS (SELECT vec_id,
      |  CAST(list_sum(list_transform(range(0, 8), p ->
      |    CASE WHEN list_sum(list_transform(range(1, len(v) + 1), i ->
      |      CASE WHEN ('0x' || substr(md5(CAST(p AS VARCHAR) || '#' || CAST(i - 1 AS VARCHAR)), 1, 8))::BIGINT & 1 = 1
      |           THEN v[i] ELSE -v[i] END)) > 0
      |    THEN (1 << p) ELSE 0 END)) AS INTEGER) AS bucket
      |  FROM e)
      |SELECT bucket, count(*) AS n_vectors, min(vec_id) AS min_vec_id
      |FROM b GROUP BY bucket""".stripMargin

  /** Font-style predicates (pdf_processor.py:271-287): 'bold'/'italic'/
    * 'oblique' containment over a derived font name. */
  private val qFontStyle: Q = (spark, sfDir) => {
    val fontname = when(col("doc_id") % 4 === 0, "Helvetica-Bold")
      .when(col("doc_id") % 4 === 1, "Times-Italic")
      .when(col("doc_id") % 4 === 2, "Garamond-BoldOblique")
      .otherwise("Helvetica")
    doc(spark, sfDir).select(
      col("doc_id"),
      fontname.as("fontname"),
      lower(fontname).contains("bold").as("is_bold"),
      (lower(fontname).contains("italic") || lower(fontname).contains("oblique")).as("is_italic"))
  }
  private val oFontStyle =
    """WITH f AS (SELECT doc_id,
      |  CASE WHEN doc_id % 4 = 0 THEN 'Helvetica-Bold'
      |       WHEN doc_id % 4 = 1 THEN 'Times-Italic'
      |       WHEN doc_id % 4 = 2 THEN 'Garamond-BoldOblique'
      |       ELSE 'Helvetica' END AS fontname FROM documents)
      |SELECT doc_id, fontname,
      |  contains(lower(fontname), 'bold') AS is_bold,
      |  (contains(lower(fontname), 'italic') OR contains(lower(fontname), 'oblique')) AS is_italic
      |FROM f""".stripMargin

  /** Embedding-cosine near-duplicate detection: pairs above 0.35 among the
    * first 200 vectors (bounded candidate set; the scale path is
    * q31's LSH bucketing). The BOUNDED side is the broadcast side — the
    * inequality condition forces a nested-loop join, so ship the 200-vector
    * probe set, never the corpus. */
  private val qEmbeddingNearDup: Q = (spark, sfDir) => {
    import spark.implicits._
    val emb = tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
    // The BOUNDED probe side (200 vectors, ~100 KB) ships as an explicit
    // broadcast variable — the same bytes the former broadcast nested-loop
    // join materialized on the driver, minus the per-pair HOF expression
    // overhead (kernel dot products; same left-to-right FP order, Spark
    // BigDecimal rounding). The corpus side streams; still no corpus
    // broadcast, still linear in corpus size x probe count.
    val probes = emb.filter(_._1 < 200).collect()
      .map { case (id, v) => (id, v.toArray) }.sortBy(_._1)
    require(probes.length <= 200, s"q34 probe collect is bounded by 200 vectors, got ${probes.length}")
    val bc = emb.sparkSession.sparkContext.broadcast(probes)
    emb.mapPartitions { it =>
      val ps = bc.value
      it.flatMap { case (vid, vSeq) =>
        val v = vSeq.toArray
        var nv = 0.0
        var i = 0
        while (i < v.length) { nv += v(i) * v(i); i += 1 }
        val nvRoot = math.sqrt(nv)
        ps.iterator.filter(_._1 < vid).flatMap { case (ida, va) =>
          var dot = 0.0
          var na = 0.0
          var j = 0
          while (j < va.length && j < v.length) { dot += va(j) * v(j); j += 1 }
          j = 0
          while (j < va.length) { na += va(j) * va(j); j += 1 }
          val c = TextOps.round6Kernel(dot / (math.sqrt(na) * nvRoot))
          if (c > 0.35) Iterator.single((ida, vid, c)) else Iterator.empty
        }
      }
    }.toDF("id_a", "id_b", "cosine")
  }
  private val oEmbeddingNearDup =
    """WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
      |a AS (SELECT vec_id AS id_a, v AS va FROM e WHERE vec_id < 200),
      |scored AS (
      |  SELECT id_a, e.vec_id AS id_b,
      |    round(list_sum(list_transform(range(1, len(va) + 1), i -> va[i] * v[i])) /
      |      (sqrt(list_sum(list_transform(va, x -> x * x))) *
      |       sqrt(list_sum(list_transform(v, x -> x * x)))), 6) AS cosine
      |  FROM a, e WHERE id_a < e.vec_id)
      |SELECT * FROM scored WHERE cosine > 0.35""".stripMargin

  /** Native Catalyst expression (graft.functions.TokenCountExpr, with
    * doGenCode): token count without array materialization; values match
    * the regex formulation so the oracle checks the codegen path. */
  private val qTokenCountNative: Q = (spark, sfDir) =>
    doc(spark, sfDir).select(
      col("doc_id"),
      graft.functions.Functions.token_count(col("text")).as("n_tokens"))
  private val oTokenCountNative =
    """SELECT doc_id,
      |CAST(CASE WHEN length(trim(text)) = 0 THEN 0
      |     ELSE len(regexp_split_to_array(trim(text), '\s+')) END AS INTEGER) AS n_tokens
      |FROM documents""".stripMargin

  /** Typed bbox-union Aggregator (graft.functions.BBoxUnionAgg) — the
    * reference's calculate_bbox as a distributed agg with partial combine.
    * r6: the SAME Aggregator now runs as a registered UDAF over a relational
    * groupBy instead of groupByKey/mapValues — partial Box buffers (4
    * doubles) cross the exchange instead of every (key, bbox-array) row
    * through the tuple encoder, and the group-walk is a hash aggregate
    * rather than a sort-based mapGroups. Identical reduce/merge/finish code
    * path, identical results. */
  private val qBBoxUnionTyped: Q = (spark, sfDir) => {
    val agg = udaf(new graft.functions.BBoxUnionAgg())
    tbl(spark, sfDir, "lineitem")
      .select(col("l_orderkey"),
        array((col("l_partkey") % 800).cast("double"), (col("l_suppkey") % 600).cast("double"),
          (col("l_partkey") % 800).cast("double") + 10.0, (col("l_suppkey") % 600).cast("double") + 18.0).as("bbox"))
      .groupBy("l_orderkey")
      .agg(agg(col("bbox")).as("box"))
      .select(col("l_orderkey"), col("box.x0").as("bx0"), col("box.top").as("by0"),
        col("box.x1").as("bx1"), col("box.bottom").as("by1"))
  }
  private val oBBoxUnionTyped =
    """SELECT l_orderkey,
      |min(CAST(l_partkey % 800 AS DOUBLE)) AS bx0, min(CAST(l_suppkey % 600 AS DOUBLE)) AS by0,
      |max(CAST(l_partkey % 800 AS DOUBLE) + 10.0) AS bx1, max(CAST(l_suppkey % 600 AS DOUBLE) + 18.0) AS by1
      |FROM lineitem GROUP BY l_orderkey""".stripMargin

  /** Salted two-phase aggregation: the hot-key pattern for low-cardinality
    * group-bys at 100 TB (every doc shares lang='en' here — maximal skew).
    * Phase 1 spreads each key over 16 salt shards (map-side + 16-way
    * shuffle), phase 2 re-aggregates the tiny shard table. Result identical
    * to the direct group-by, which is the oracle. */
  private val qSaltedAgg: Q = (spark, sfDir) => {
    val salted = doc(spark, sfDir)
      .select(col("lang"), (col("doc_id") % 16).as("salt"), length(col("text")).as("len"))
      .groupBy("lang", "salt")
      .agg(count(lit(1)).as("cnt"), sum("len").as("len_sum"))
    salted.groupBy("lang")
      .agg(sum("cnt").as("n_docs"), sum("len_sum").as("total_chars"))
  }
  private val oSaltedAgg =
    """SELECT lang, count(*) AS n_docs, CAST(sum(length(text)) AS BIGINT) AS total_chars
      |FROM documents GROUP BY lang""".stripMargin

  /** Temporal sessionization: gaps-and-islands over event time — new session
    * when the per-user gap exceeds 30 minutes. */
  private val qSessionize: Q = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    tbl(spark, sfDir, "events")
      .select(col("event_id"), col("user_id"), col("ts"))
      .withColumn("gap_start",
        when(lag("ts", 1).over(w).isNull ||
          unix_timestamp(col("ts")) - unix_timestamp(lag("ts", 1).over(w)) > 1800, 1L)
          .otherwise(0L))
      .withColumn("session_id", sum("gap_start").over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .select("event_id", "user_id", "session_id")
  }
  private val oSessionize =
    """WITH flagged AS (
      |  SELECT event_id, user_id, ts,
      |    CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
      |          OR epoch(ts) - epoch(lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)) > 1800
      |         THEN 1 ELSE 0 END AS gap_start
      |  FROM events)
      |SELECT event_id, user_id,
      |  CAST(sum(gap_start) OVER (PARTITION BY user_id ORDER BY ts, event_id
      |       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
      |FROM flagged""".stripMargin

  /** Gopher-style repetition quality filters (dup word / dup 2-gram
    * fractions) — public pretraining-filter heuristics (Rae et al. 2021). */
  private val qRepetitionFilter: Q = (spark, sfDir) => {
    import spark.implicits._
    // a kernel (same tokenization, HashSet distinct, Spark-round): the
    // HOF gram-build expression it replaced was the 2nd most expensive
    // bench query
    doc(spark, sfDir).select(col("doc_id"), col("text")).as[(Long, String)]
      .mapPartitions(_.map { case (id, t) =>
        val (dw, d2) = TextOps.repetitionRatiosKernel(t)
        (id, dw, d2, dw < 0.9 && d2 < 0.9)
      })
      .toDF("doc_id", "dup_word_frac", "dup_2gram_frac", "keep")
  }
  private val oRepetitionFilter =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words FROM documents),
      |m AS (SELECT doc_id, words, len(words) AS n,
      |  CASE WHEN len(words) > 0
      |    THEN round(1.0 - CAST(len(list_distinct(words)) AS DOUBLE) / len(words), 4) ELSE 0.0 END AS dup_word_frac,
      |  CASE WHEN len(words) >= 2
      |    THEN round(1.0 - CAST(len(list_distinct(list_transform(range(1, len(words)),
      |      i -> words[i] || ' ' || words[i+1]))) AS DOUBLE) / (len(words) - 1), 4) ELSE 0.0 END AS dup_2gram_frac
      |  FROM w)
      |SELECT doc_id, dup_word_frac, dup_2gram_frac,
      |  (dup_word_frac < 0.9 AND dup_2gram_frac < 0.9) AS keep
      |FROM m""".stripMargin

  // -------------------------------------------------------------------
  // Training-data operators, batch 2 (round 2): corpus-hygiene heuristics a
  // 100 TB pretraining pipeline applies before tokenization. All pure
  // Catalyst expressions (map-side, no shuffle except the final tiny aggs).
  // -------------------------------------------------------------------

  /** C4-style heuristic quality filters (Raffel et al. 2020, public
    * heuristics): terminal-punctuation line fraction, lorem-ipsum marker,
    * curly-brace (code) marker, combined keep flag. */
  private val qC4Heuristics: Q = (spark, sfDir) => {
    val lines = split(col("text"), "\n", -1)
    val nLines = size(lines)
    val endPunct = size(filter(lines, l => trim(l).rlike("[.!?\"]$")))
    val frac = round(endPunct.cast("double") / nLines, 4)
    val hasLorem = lower(col("text")).contains("lorem ipsum")
    val hasBrace = col("text").contains("{")
    doc(spark, sfDir).select(
      col("doc_id"),
      nLines.as("n_lines"),
      frac.as("end_punct_frac"),
      hasLorem.as("has_lorem"),
      hasBrace.as("has_brace"),
      (frac >= 0.3 && !hasLorem && !hasBrace).as("keep"))
  }
  private val oC4Heuristics =
    """WITH s AS (SELECT doc_id, text, string_split(text, chr(10)) AS lines FROM documents),
      |m AS (SELECT doc_id, text,
      |  CAST(len(lines) AS INTEGER) AS n_lines,
      |  round(CAST(len(list_filter(lines, l -> regexp_matches(trim(l), '[.!?"]$'))) AS DOUBLE) / len(lines), 4) AS end_punct_frac,
      |  contains(lower(text), 'lorem ipsum') AS has_lorem,
      |  contains(text, '{') AS has_brace
      |  FROM s)
      |SELECT doc_id, n_lines, end_punct_frac, has_lorem, has_brace,
      |  (end_punct_frac >= 0.3 AND NOT has_lorem AND NOT has_brace) AS keep
      |FROM m""".stripMargin

  /** Unicode NFC normalization via the native codegen'd expression
    * (graft.functions.NfcNormalizeExpr); already_nfc by string equality
    * (engine-neutral — avoids length-unit differences). */
  private val qNfcNormalize: Q = (spark, sfDir) =>
    doc(spark, sfDir).select(
      col("doc_id"),
      graft.functions.Functions.nfc_normalize(col("text")).as("nfc_text"),
      (graft.functions.Functions.nfc_normalize(col("text")) === col("text")).as("already_nfc"))
  private val oNfcNormalize =
    """SELECT doc_id, nfc_normalize(text) AS nfc_text,
      |nfc_normalize(text) = text AS already_nfc FROM documents""".stripMargin

  /** Deterministic hash-Bernoulli sampling (the reproducible corpus-sampling
    * primitive at 100 TB — no RNG state, any subset recomputable): keep docs
    * with hash32(doc_id) % 100 < 10, reported per language stratum. */
  private val qHashSample: Q = (spark, sfDir) => {
    val keep = TextOps.hash32(col("doc_id").cast("string")) % 100 < 10
    doc(spark, sfDir)
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum(when(keep, 1L).otherwise(0L)).as("n_sampled"))
  }
  private val oHashSample =
    """SELECT lang, count(*) AS n_docs,
      |CAST(sum(CASE WHEN ('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 8))::BIGINT % 100 < 10
      |         THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled
      |FROM documents GROUP BY lang""".stripMargin

  /** URL/domain extraction + dedup-by-domain (URL-keyed dedup shape): derive
    * a URL per doc, regexp-extract the domain, group (linear, map-side
    * partial agg — never materialized pairs). */
  private val qUrlDomain: Q = (spark, sfDir) => {
    val url = concat(lit("https://"), col("source"), lit(".example.com/docs/"), col("doc_id"))
    doc(spark, sfDir)
      .select(col("doc_id"), regexp_extract(url, "^https?://([^/]+)/", 1).as("domain"))
      .groupBy("domain")
      .agg(count(lit(1)).as("n_docs"), min("doc_id").as("keep_doc_id"))
  }
  private val oUrlDomain =
    """WITH u AS (SELECT doc_id,
      |  regexp_extract('https://' || source || '.example.com/docs/' || doc_id, '^https?://([^/]+)/', 1) AS domain
      |  FROM documents)
      |SELECT domain, count(*) AS n_docs, min(doc_id) AS keep_doc_id
      |FROM u GROUP BY domain""".stripMargin

  /** Per-language length quartiles — exact ntile semantics, scale-safe
    * (VERDICT r02 #2): the naive `Window.partitionBy(lang)` ntile sorts an
    * entire language stratum on ONE task (~20 TB per reducer at 100 TB with
    * ~5 langs). Two-pass exact ranking instead:
    *   pass 1 — range-repartition on the total order (lang, n_chars,
    *     doc_id); count rows per (lang, range-partition) → tiny table whose
    *     running sum per lang gives each partition's global rank offset;
    *   pass 2 — row_number within (lang, partition) + offset = exact global
    *     rank; ntile arithmetic (first n%4 buckets get one extra row) from
    *     the rank and the per-lang total.
    * No task ever holds more than one range-partition's slice of a
    * language, at ANY stratum size. Values identical to ntile(4), so the
    * same DuckDB oracle stays the gate. */
  private val qLengthQuartiles: Q = (spark, sfDir) => {
    import org.apache.spark.sql.expressions.Window
    // r6 rewrite: the query's OUTPUT is a per-(lang, quartile) SUMMARY, so
    // per-document ranks are never needed — the whole answer is a function
    // of the per-(lang, n_chars) count distribution. One map-side-combined
    // groupBy collapses the corpus to (lang, n_chars, c) — cardinality
    // bounded by distinct lengths per language, NOT corpus size — then a
    // cumulative window over that tiny frame places each length's rank
    // range (prev, cum], and ntile arithmetic (first n%4 buckets take
    // base+1 rows) turns rank-range overlap into exact per-quartile doc
    // counts and min/max lengths. Identical values to ntile(4): the doc_id
    // tiebreak only permutes ranks WITHIN one (lang, n_chars) run, which
    // cannot move counts or min/max across a boundary. Replaces the former
    // two-pass range-repartition + localCheckpoint + broadcast-offsets plan
    // (3 jobs, a corpus checkpoint, a corpus-wide sort) with one job and
    // shuffles bounded by the length distribution.
    val counts = doc(spark, sfDir)
      .groupBy("lang", "n_chars")
      .agg(count(lit(1)).as("c"))
    val wCum = Window.partitionBy("lang").orderBy("n_chars")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val dist = counts
      .withColumn("cum", sum("c").over(wCum))
      .withColumn("n", sum("c").over(Window.partitionBy("lang")))
      .withColumn("prev", col("cum") - col("c"))
    val base4 = expr("n div 4")
    val rem = col("n") % 4
    val q = col("q").cast("long")
    // cumulative bucket-size boundaries: quartile q covers ranks (lo-1, hi]
    val hi = q * base4 + least(q, rem)
    val lo1 = (q - 1) * base4 + least(q - 1, rem) // = lo - 1
    val contrib = least(col("cum"), hi) - greatest(col("prev"), lo1)
    dist
      .select(col("lang"), col("n_chars"), col("cum"), col("prev"), col("n"),
        explode(sequence(lit(1), lit(4))).as("q"))
      .withColumn("contrib", contrib)
      .filter(col("contrib") > 0)
      .groupBy(col("lang"), col("q").cast("int").as("quartile"))
      .agg(sum("contrib").as("n_docs"), min("n_chars").as("min_chars"), max("n_chars").as("max_chars"))
  }
  private val oLengthQuartiles =
    """WITH q AS (SELECT lang, n_chars, doc_id,
      |  ntile(4) OVER (PARTITION BY lang ORDER BY n_chars ASC, doc_id ASC) AS quartile
      |  FROM documents)
      |SELECT lang, CAST(quartile AS INTEGER) AS quartile, count(*) AS n_docs,
      |  min(n_chars) AS min_chars, max(n_chars) AS max_chars
      |FROM q GROUP BY lang, quartile""".stripMargin

  /** Corpus token frequency top-25 (wordcount): explode -> map-side partial
    * count -> final agg -> deterministic top-k. The canonical vocabulary-
    * building scan; at 100 TB the partial aggregation bounds shuffle volume
    * by distinct-token cardinality, not token count. */
  private val qTokenTopK: Q = (spark, sfDir) =>
    doc(spark, sfDir)
      .select(explode(split(lower(trim(col("text"))), "\\s+")).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok").asc)
      .limit(25)
  private val oTokenTopK =
    """WITH t AS (SELECT unnest(regexp_split_to_array(lower(trim(text)), '\s+')) AS tok FROM documents)
      |SELECT tok, count(*) AS cnt FROM t GROUP BY tok
      |ORDER BY cnt DESC, tok ASC LIMIT 25""".stripMargin

  /** Real subword tokenization (round-3): greedy longest-match over the
    * committed vocabulary (graft.ops.Tokenize — the public WordPiece/BPE
    * greedy-inference algorithm), exposed as the native codegen'd
    * SubwordCountExpr. The oracle replays the IDENTICAL greedy recursion in
    * DuckDB: a recursive CTE advances a cursor through each word, at each
    * position consuming the longest matching vocab entry (else one code
    * point) and counting one token per step. */
  private val qSubwordTokenize: Q = (spark, sfDir) =>
    doc(spark, sfDir).select(
      col("doc_id"),
      graft.functions.Functions.subword_count(col("text")).as("n_subword_tokens"))
  private val oSubwordTokenize = {
    // SQL-escape entries: the vocab is now file-loaded, so an external
    // learned table may carry apostrophes etc.
    val vocabValues = Tokenize.Vocab.map(v => s"('${v.replace("'", "''")}')").mkString(",")
    s"""WITH RECURSIVE vocab(tok) AS (VALUES $vocabValues),
       |w AS (SELECT doc_id,
       |  generate_subscripts(regexp_split_to_array(lower(trim(text)), '\\s+'), 1) AS wi,
       |  unnest(regexp_split_to_array(lower(trim(text)), '\\s+')) AS word
       |  FROM documents),
       |step(doc_id, wi, word, pos, cnt) AS (
       |  SELECT doc_id, wi, word, 1, 0 FROM w
       |  UNION ALL
       |  SELECT doc_id, wi, word,
       |    pos + coalesce((SELECT max(length(v.tok)) FROM vocab v
       |                    WHERE substr(word, pos, length(v.tok)) = v.tok), 1),
       |    cnt + 1
       |  FROM step WHERE pos <= length(word))
       |SELECT doc_id, CAST(sum(cnt) AS BIGINT) AS n_subword_tokens
       |FROM step WHERE pos > length(word) GROUP BY doc_id""".stripMargin
  }

  /** PII detection + redaction (round-3): the scrubbing pass every public
    * training corpus runs before tokenization. Deterministic synthetic PII is
    * woven into a third of the docs (corpus text carries none) so every
    * branch fires; patterns are RE2-safe (no backrefs/lookarounds) so Spark
    * (java.util.regex) and DuckDB (RE2) agree. Map-side only — no shuffle. */
  private val qPiiScrub: Q = (spark, sfDir) => {
    val emailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
    val ipRe = "\\b\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\.\\d{1,3}\\b"
    val enriched = when(col("doc_id") % 3 === 0,
      concat(col("text"), lit(" contact user"), col("doc_id"), lit("@example.com now")))
      .when(col("doc_id") % 3 === 1,
        concat(col("text"), lit(" from host 10.0."), col("doc_id") % 256, lit(".7")))
      .otherwise(col("text"))
    doc(spark, sfDir)
      .select(col("doc_id"), enriched.as("t"))
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("t"), lit(emailRe), lit(0))).as("n_emails"),
        size(regexp_extract_all(col("t"), lit(ipRe), lit(0))).as("n_ips"),
        length(regexp_replace(regexp_replace(col("t"), emailRe, "[EMAIL]"), ipRe, "[IP]"))
          .as("redacted_len"))
  }
  private val oPiiScrub =
    """WITH e AS (SELECT doc_id,
      |  CASE WHEN doc_id % 3 = 0 THEN text || ' contact user' || doc_id || '@example.com now'
      |       WHEN doc_id % 3 = 1 THEN text || ' from host 10.0.' || (doc_id % 256) || '.7'
      |       ELSE text END AS t FROM documents)
      |SELECT doc_id,
      |  CAST(len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) AS INTEGER) AS n_emails,
      |  CAST(len(regexp_extract_all(t, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ips,
      |  CAST(length(regexp_replace(regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '[EMAIL]', 'g'),
      |         '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '[IP]', 'g')) AS INTEGER) AS redacted_len
      |FROM e""".stripMargin

  /** Fixed-size training-window chunking (round-3): overlapping token
    * windows (size 64, stride 48) per document — the canonical context-
    * window materialization before tokenized training shards. Pure Catalyst
    * HOFs (one split per doc, slices per window); explodes to one row per
    * chunk, map-side, shuffle-free. */
  private val qChunkWindows: Q = (spark, sfDir) => {
    val size64 = 64; val stride = 48
    val words = split(lower(trim(col("text"))), "\\s+")
    val n = size(words)
    // chunk starts: 0, 48, 96, ... while start < n (at least one chunk)
    val nChunks = greatest(ceil((n - size64).cast("double") / stride).cast("int") + 1, lit(1))
    doc(spark, sfDir)
      .select(col("doc_id"), words.as("w"), n.as("n"), nChunks.as("k"))
      .select(col("doc_id"), col("n"),
        posexplode(transform(sequence(lit(0), col("k") - 1),
          i => slice(col("w"), i * stride + 1, lit(size64)))))
      .select(
        col("doc_id"),
        col("pos").cast("int").as("chunk_id"),
        size(col("col")).as("n_tokens"),
        element_at(col("col"), 1).as("first_token"))
  }
  private val oChunkWindows =
    """WITH w AS (SELECT doc_id, regexp_split_to_array(lower(trim(text)), '\s+') AS words FROM documents),
      |m AS (SELECT doc_id, words, len(words) AS n,
      |  greatest(CAST(ceil((len(words) - 64) / 48.0) AS INTEGER) + 1, 1) AS k FROM w),
      |c AS (SELECT doc_id, n, unnest(range(0, k)) AS chunk_id, words FROM m)
      |SELECT doc_id, CAST(chunk_id AS INTEGER) AS chunk_id,
      |  CAST(len(words[chunk_id * 48 + 1 : chunk_id * 48 + 64]) AS INTEGER) AS n_tokens,
      |  words[chunk_id * 48 + 1] AS first_token
      |FROM c""".stripMargin

  /** Benchmark decontamination (round-3; round-4 external-table form):
    * exact 8-gram overlap between every corpus document and a benchmark
    * set — the public eval-decontamination method (n-gram collision
    * flagging, as popularized by the GPT-3 / Gopher appendices). The
    * operator is [[TextOps.decontaminate]], which takes the eval suite as
    * its OWN relation. Testdata has no second text table, so the eval side
    * here is an independent pushed-filter SCAN of documents (`doc_id < 5`
    * reaches the parquet reader — row-group pruned), standing in for
    * `spark.read.parquet(evalPath)`; the earlier form derived bench grams
    * by re-exploding the ENTIRE corpus and filtering after the opaque
    * mapPartitions (no pushdown), so this is also a plan fix. */
  // no spreadThin on the decontamination corpus (r6, measured): the
  // shingle+probe kernel is a single narrow stage and cheap per row — the
  // repartition's extra exchange/AQE stage cost more than the serial pass
  private val qDecontaminate: Q = (spark, sfDir) =>
    TextOps.decontaminate(
      doc(spark, sfDir).select("doc_id", "text"),
      doc(spark, sfDir).filter(col("doc_id") < 5).select("text"))
  private val oDecontaminate =
    """WITH sh AS (SELECT doc_id,
      |  list_distinct(CASE WHEN len(string_split(lower(trim(text)), ' ')) < 8
      |    THEN [array_to_string(string_split(lower(trim(text)), ' '), ' ')]
      |    ELSE list_transform(range(0, len(string_split(lower(trim(text)), ' ')) - 7),
      |      i -> array_to_string(string_split(lower(trim(text)), ' ')[i+1:i+8], ' ')) END) AS s
      |  FROM documents),
      |bench AS (SELECT DISTINCT unnest(s) AS gram FROM sh WHERE doc_id < 5),
      |ex AS (SELECT doc_id, unnest(s) AS gram FROM sh),
      |matched AS (SELECT doc_id, count(*) AS n_matched FROM ex
      |  WHERE gram IN (SELECT gram FROM bench) GROUP BY doc_id)
      |SELECT s.doc_id, CAST(len(s.s) AS INTEGER) AS n_grams,
      |  CAST(coalesce(m.n_matched, 0) AS BIGINT) AS n_matched,
      |  round(coalesce(m.n_matched, 0) / CAST(len(s.s) AS DOUBLE), 4) AS contam_frac,
      |  coalesce(m.n_matched, 0) > 0 AS contaminated
      |FROM sh s LEFT JOIN matched m ON s.doc_id = m.doc_id""".stripMargin

  /** Duplicate-CLUSTER resolution (round-4, [[Dedup]]): MinHash-LSH star
    * edges -> iterative min-label connected components -> one row per
    * near-dup cluster. The corpus has no natural near-dups, so (q47
    * precedent) deterministic variants are woven in: docs 0-39 each gain
    * two suffix-mutated copies at +1e6/+2e6 — the clusters the operator
    * must find span base + both variants TRANSITIVELY even when the two
    * variants only band-collide with the base, not each other. The oracle
    * replays the identical md5 minhash stream, banding, star edges, and a
    * recursive-CTE transitive closure. */
  private val qDedupClusters: Q = (spark, sfDir) => {
    val base = doc(spark, sfDir).select(col("doc_id"), col("text"))
    val dups = base.filter(col("doc_id") < 40)
    val corpus = base
      .unionByName(dups.select((col("doc_id") + 1000000L).as("doc_id"),
        concat(col("text"), lit(" dupa")).as("text")))
      .unionByName(dups.select((col("doc_id") + 2000000L).as("doc_id"),
        concat(col("text"), lit(" dupa dupb")).as("text")))
    Dedup.dedupClusters(spreadThin(corpus))
  }
  private val oDedupClusters = {
    val hashes = (0 until 8).map { i =>
      s"""(SELECT min(('0x' || substr(md5(w || '#$i'), 1, 8))::BIGINT)
         | FROM unnest(s) AS t(w))""".stripMargin
    }
    s"""WITH RECURSIVE corpus AS (
       |  SELECT doc_id, text FROM documents
       |  UNION ALL SELECT doc_id + 1000000, text || ' dupa' FROM documents WHERE doc_id < 40
       |  UNION ALL SELECT doc_id + 2000000, text || ' dupa dupb' FROM documents WHERE doc_id < 40),
       |sh AS (SELECT doc_id,
       |  list_distinct(CASE WHEN len(string_split(lower(trim(text)), ' ')) < 3
       |    THEN [array_to_string(string_split(lower(trim(text)), ' '), ' ')]
       |    ELSE list_transform(range(0, len(string_split(lower(trim(text)), ' ')) - 2),
       |      i -> array_to_string(string_split(lower(trim(text)), ' ')[i+1:i+3], ' ')) END) AS s
       |  FROM corpus),
       |sigs AS (SELECT doc_id, ${hashes.zipWithIndex.map { case (h, i) => s"$h AS h$i" }.mkString(", ")}
       |FROM sh),
       |bands AS (
       |${(0 until 4).map(b => s"SELECT doc_id, $b AS band, md5(CAST(h${2 * b} AS VARCHAR) || ',' || CAST(h${2 * b + 1} AS VARCHAR)) AS band_key FROM sigs").mkString("\nUNION ALL\n")}),
       |hubs AS (SELECT band, band_key, min(doc_id) AS dst FROM bands GROUP BY band, band_key),
       |edges AS (SELECT DISTINCT b.doc_id AS src, h.dst FROM bands b
       |  JOIN hubs h ON b.band = h.band AND b.band_key = h.band_key
       |  WHERE b.doc_id <> h.dst),
       |sym AS (SELECT src, dst FROM edges UNION SELECT dst, src FROM edges),
       |reach(a, b) AS (
       |  SELECT src, src FROM sym
       |  UNION
       |  SELECT r.a, s.dst FROM reach r JOIN sym s ON r.b = s.src),
       |labels AS (SELECT a AS doc_id, min(b) AS root FROM reach GROUP BY a)
       |SELECT root AS cluster_root, CAST(count(*) AS BIGINT) AS n_docs, max(doc_id) AS max_doc_id
       |FROM labels GROUP BY root""".stripMargin
  }

  /** Multimodal decode inside the hard gate (round-5, VERDICT r04 "What's
    * missing" #1): one synthetic media payload per document (ref =
    * 'img://<doc_id>'; REAL PGM/PNG/JPEG bytes, format round-robin by the
    * ref's hash), decoded by the REAL decoders ([[Multimodal.decodePnm]] /
    * javax.imageio) — the query emits the decoder that claimed the bytes
    * plus the DECODED raster dims. The payload generator keys every
    * property on java.lang.String#hashCode of the ref (a public, spec-fixed
    * function), so the DuckDB oracle replays format/dims/PGM byte length
    * arithmetically without decoding a byte: a broken decode path surfaces
    * as decoder='stub' or wrong dims. pnm_bytes is checked only for the
    * deterministic PGM container (PNG/JPEG sizes are codec-dependent ->
    * NULL on both sides). */
  /** q51's synthetic ENCODED payload table — exposed so Bench can
    * materialize it UNTIMED (production corpora arrive encoded; the
    * interesting cost is DECODE, sustained-corpus precedent). */
  def mediaPayloads(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import spark.implicits._
    // spreadThin: the encode kernel downstream is the expensive step, and
    // the payload table Bench materializes inherits this partitioning —
    // one file would serialize the timed decode scan too
    val refs = spreadThin(doc(spark, sfDir)
      .select(concat(lit("img://"), col("doc_id").cast("string")).as("ref"),
        col("doc_id").cast("string").as("doc")))
      .as[(String, String)]
    Multimodal.syntheticMedia(spark, refs)
  }

  /** q51's decode+projection stage over an already-encoded payload table. */
  def mediaDecodeFrom(media: org.apache.spark.sql.Dataset[Multimodal.MediaRow]): DataFrame =
    Multimodal.extractFeatures(media).toDF()
      .select(
        col("media_ref"),
        col("doc_id").cast("long").as("doc_id"),
        col("decoder"),
        col("dec_width"),
        col("dec_height"),
        when(col("decoder") === "pnm", col("n_bytes")).as("pnm_bytes"))

  private val qMediaDecode: Q = (spark, sfDir) =>
    mediaDecodeFrom(mediaPayloads(spark, sfDir))
  private val oMediaDecode =
    """WITH m AS (SELECT doc_id, 'img://' || CAST(doc_id AS VARCHAR) AS media_ref FROM documents),
      |s AS (SELECT doc_id, media_ref,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(media_ref) + 1),
      |      i -> CAST(ascii(substr(media_ref, CAST(i AS INTEGER), 1)) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 4294967296) AS seed
      |  FROM m),
      |d AS (SELECT doc_id, media_ref, seed,
      |  CAST(16 + seed % 48 AS INTEGER) AS dec_width,
      |  CAST(16 + (seed // 256) % 48 AS INTEGER) AS dec_height FROM s)
      |SELECT media_ref, doc_id,
      |  CASE WHEN seed % 3 = 0 THEN 'pnm' ELSE 'imageio' END AS decoder,
      |  dec_width, dec_height,
      |  CASE WHEN seed % 3 = 0 THEN CAST(27 + length(CAST(dec_width AS VARCHAR))
      |    + length(CAST(dec_height AS VARCHAR)) + dec_width * dec_height AS INTEGER) END AS pnm_bytes
      |FROM d""".stripMargin

  /** Audio decode inside the hard gate (round-5, q51's sibling): one
    * genuine RIFF/PCM WAV payload per document (ref = 'aud://<doc_id>',
    * seeded 16-bit waveform), decoded by the REAL parser
    * ([[Multimodal.decodeWavPcm]], javax.sound) — emits the decoder,
    * sample rate, decoded sample count, duration and container byte length,
    * all integer-exact functions of the ref's String.hashCode that the
    * DuckDB oracle replays arithmetically (a broken WAV parse surfaces as
    * decoder='stub' or wrong counts). The float features (rms,
    * zero-crossings) stay test-covered — replaying the 64-bit LCG waveform
    * in SQL would be oracle theater, not verification. */
  /** q52's synthetic encoded WAV table (see [[mediaPayloads]]). */
  def audioPayloads(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import spark.implicits._
    // no spreadThin here (r6, measured): WAV encode/decode is cheap per row
    // — spreading produced 32 tiny payload files whose scan overhead cost
    // more than the serial pass saved (unlike q51's image codecs)
    val refs = doc(spark, sfDir)
      .select(concat(lit("aud://"), col("doc_id").cast("string")).as("ref"),
        col("doc_id").cast("string").as("doc"))
      .as[(String, String)]
    Multimodal.syntheticAudio(spark, refs)
  }

  /** q52's decode+projection stage over an already-encoded payload table. */
  def audioDecodeFrom(media: org.apache.spark.sql.Dataset[Multimodal.MediaRow]): DataFrame =
    Multimodal.extractAudioFeatures(media).toDF()
      .select(
        col("media_ref"),
        col("doc_id").cast("long").as("doc_id"),
        col("decoder"),
        col("sample_rate"),
        col("n_samples"),
        col("duration_ms"),
        col("n_bytes").as("wav_bytes"))

  private val qAudioDecode: Q = (spark, sfDir) =>
    audioDecodeFrom(audioPayloads(spark, sfDir))
  private val oAudioDecode =
    """WITH m AS (SELECT doc_id, 'aud://' || CAST(doc_id AS VARCHAR) AS media_ref FROM documents),
      |s AS (SELECT doc_id, media_ref,
      |  list_reduce(list_prepend(CAST(0 AS BIGINT),
      |    list_transform(range(1, length(media_ref) + 1),
      |      i -> CAST(ascii(substr(media_ref, CAST(i AS INTEGER), 1)) AS BIGINT))),
      |    (h, c) -> (h * 31 + c) % 4294967296) AS seed
      |  FROM m),
      |d AS (SELECT doc_id, media_ref, CAST(800 + seed % 1600 AS BIGINT) AS n FROM s)
      |SELECT media_ref, doc_id,
      |  'wav' AS decoder,
      |  CAST(8000 AS INTEGER) AS sample_rate,
      |  CAST(n AS INTEGER) AS n_samples,
      |  CAST((n * 1000) // 8000 AS BIGINT) AS duration_ms,
      |  CAST(44 + n * 2 AS INTEGER) AS wav_bytes
      |FROM d""".stripMargin

  /** IVF approximate-nearest-neighbor search ([[Ann]]) — the data-ADAPTIVE
    * scale path beside q31's data-independent hyperplane LSH: a coarse
    * quantizer (k=8 centroids, 2 fixed Lloyd steps) trained on the bounded
    * vec_id<64 sample, map-side list assignment for the whole corpus, then
    * each of the 10 query vectors probes its nprobe=2 nearest lists and
    * ranks exact-cosine top-3 within them. Deterministic end to end
    * (rounded distances/means, id tiebreaks); the oracle unrolls the
    * identical Lloyd steps as SQL. */
  private val qAnnIvf: Q = (spark, sfDir) => {
    import spark.implicits._
    val emb = tbl(spark, sfDir, "embeddings")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .as[(Long, Seq[Double])]
    // column predicate (ADVICE r05): prunes at the parquet reader instead of
    // deserializing every corpus row through the encoder before filtering
    val sample = emb.filter(col("vec_id") < 64).as[(Long, Seq[Double])].collect()
      .map { case (id, v) => (id, v.toArray) }
    require(sample.length <= 64, s"q53 training sample collect is bounded by 64 vectors, got ${sample.length}")
    val cents = Ann.trainIvfCentroids(sample, k = 8, iters = 2)
    val queries = sample.filter(_._1 < 10)
    Ann.ivfSearch(emb, queries, cents, nprobe = 2, topk = 3)
  }
  private val oAnnIvf = {
    // 6-dp-rounded squared L2 — the argmin metric on both sides
    def dist(v: String, c: String) =
      s"round(list_sum(list_transform(range(1, len($v) + 1), i -> ($v[i] - $c[i]) * ($v[i] - $c[i]))), 6)"
    s"""WITH e AS (SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v FROM embeddings),
       |samp AS (SELECT vec_id, v FROM e WHERE vec_id < 64),
       |c0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER) AS cid, v AS c
       |       FROM (SELECT vec_id, v FROM samp ORDER BY vec_id LIMIT 8)),
       |a1 AS (SELECT vec_id, v, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ${dist("v", "c")} ASC, cid ASC) AS rn
       |       FROM samp, c0),
       |m1raw AS (SELECT cid, unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x FROM a1 WHERE rn = 1),
       |m1 AS (SELECT cid, i, round(avg(x), 6) AS cv FROM m1raw GROUP BY cid, i),
       |c1 AS (SELECT c0.cid, coalesce(g.c, c0.c) AS c
       |       FROM c0 LEFT JOIN (SELECT cid, list(cv ORDER BY i) AS c FROM m1 GROUP BY cid) g USING (cid)),
       |a2 AS (SELECT vec_id, v, cid,
       |         row_number() OVER (PARTITION BY vec_id ORDER BY ${dist("v", "c")} ASC, cid ASC) AS rn
       |       FROM samp, c1),
       |m2raw AS (SELECT cid, unnest(range(1, len(v) + 1)) AS i, unnest(v) AS x FROM a2 WHERE rn = 1),
       |m2 AS (SELECT cid, i, round(avg(x), 6) AS cv FROM m2raw GROUP BY cid, i),
       |c2 AS (SELECT c1.cid, coalesce(g.c, c1.c) AS c
       |       FROM c1 LEFT JOIN (SELECT cid, list(cv ORDER BY i) AS c FROM m2 GROUP BY cid) g USING (cid)),
       |lists AS (SELECT vec_id, v, cid FROM
       |  (SELECT e.vec_id, e.v, c2.cid,
       |     row_number() OVER (PARTITION BY e.vec_id ORDER BY ${dist("e.v", "c2.c")} ASC, c2.cid ASC) AS rn
       |   FROM e, c2) WHERE rn = 1),
       |q AS (SELECT vec_id AS q_id, v AS qv FROM e WHERE vec_id < 10),
       |probe AS (SELECT q_id, cid FROM
       |  (SELECT q.q_id, c2.cid,
       |     row_number() OVER (PARTITION BY q.q_id ORDER BY ${dist("q.qv", "c2.c")} ASC, c2.cid ASC) AS pr
       |   FROM q, c2) WHERE pr <= 2),
       |cand AS (SELECT q.q_id, q.qv, l.vec_id AS neighbor_id, l.v
       |         FROM q JOIN probe USING (q_id) JOIN lists l ON probe.cid = l.cid
       |         WHERE l.vec_id <> q.q_id),
       |scored AS (SELECT q_id, neighbor_id,
       |  round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * v[i])) /
       |    (sqrt(list_sum(list_transform(qv, x -> x * x))) *
       |     sqrt(list_sum(list_transform(v, x -> x * x)))), 6) AS cosine
       |  FROM cand)
       |SELECT q_id, neighbor_id, cosine,
       |  CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, neighbor_id ASC) AS INTEGER) AS rank
       |FROM scored QUALIFY rank <= 3""".stripMargin
  }

  /** Bloom-prefiltered decontamination ([[TextOps.decontaminateBloom]]) —
    * the eval-set-too-big-to-broadcast regime. Output is bit-identical to
    * q49 (Bloom false positives die in the exact confirm join), so the
    * oracle SQL is q49's verbatim; what changes is the scale shape: a
    * compact Bloom broadcast + a confirm equi-join over only the
    * Bloom-positive sliver, instead of an exact gram hash-set broadcast. */
  private val qDecontaminateBloom: Q = (spark, sfDir) =>
    TextOps.decontaminateBloom(
      doc(spark, sfDir).select("doc_id", "text"),
      doc(spark, sfDir).filter(col("doc_id") < 5).select("text"))

  // -------------------------------------------------------------------

  val all: Map[String, Q] = Map(
    "q01_extract_spans" -> qExtractSpans,
    "q02_extract_skew_aware" -> qExtractSkewAware,
    "q03_adaptive_engines" -> qAdaptiveEngines,
    "q04_title_classify" -> qTitleClassify,
    "q05_band_classify" -> qBandClassify,
    "q06_footer_regex" -> qFooterRegex,
    "q07_ocr_gate" -> qOcrGate,
    "q08_text_clean" -> qTextClean,
    "q09_bbox_union" -> qBBoxUnion,
    "q10_run_segments" -> qRunSegments,
    "q11_column_assign" -> qColumnAssign,
    "q12_histogram" -> qHistogram,
    "q13_column_estimate" -> qColumnEstimate,
    "q14_reading_order_k3" -> qReadingOrderK3,
    "q15_table_normalize" -> qTableNormalize,
    "q16_agg_pushdown" -> qAggPushdown,
    "q17_broadcast_join" -> qBroadcastJoin,
    "q18_window_running" -> qWindowRunning,
    "q19_topk" -> qTopK,
    "q20_mode_vote" -> qModeVote,
    "q21_token_count" -> qTokenCount,
    "q22_lang_id" -> qLangId,
    "q23_quality_score" -> qQualityScore,
    "q24_fingerprint" -> qFingerprint,
    "q25_dedup_exact" -> qDedupExact,
    "q26_ngram_jaccard" -> qNgramJaccard,
    "q27_minhash" -> qMinhash,
    "q28_minhash_lsh_buckets" -> qMinhashLshBuckets,
    "q29_simhash" -> qSimhash,
    "q30_cosine_topk" -> qCosineTopK,
    "q31_ann_lsh_buckets" -> qAnnLshBuckets,
    "q32_extract_contract" -> qExtractContract,
    "q33_font_style" -> qFontStyle,
    "q34_embedding_neardup" -> qEmbeddingNearDup,
    "q35_token_count_native" -> qTokenCountNative,
    "q36_bbox_union_typed" -> qBBoxUnionTyped,
    "q37_salted_agg" -> qSaltedAgg,
    "q38_sessionize" -> qSessionize,
    "q39_repetition_filter" -> qRepetitionFilter,
    "q40_c4_heuristics" -> qC4Heuristics,
    "q41_nfc_normalize" -> qNfcNormalize,
    "q42_hash_sample" -> qHashSample,
    "q43_url_domain" -> qUrlDomain,
    "q44_length_quartiles" -> qLengthQuartiles,
    "q45_token_topk" -> qTokenTopK,
    "q46_subword_tokenize" -> qSubwordTokenize,
    "q47_pii_scrub" -> qPiiScrub,
    "q48_chunk_windows" -> qChunkWindows,
    "q49_decontaminate" -> qDecontaminate,
    "q50_dedup_clusters" -> qDedupClusters,
    "q51_media_decode" -> qMediaDecode,
    "q52_audio_decode" -> qAudioDecode,
    "q53_ann_ivf" -> qAnnIvf,
    "q54_decontaminate_bloom" -> qDecontaminateBloom
  )

  val oracles: Map[String, String] = Map(
    "q01_extract_spans" -> oExtractSpans,
    "q02_extract_skew_aware" -> oExtractSpans, // page-split path must equal the narrow path
    "q03_adaptive_engines" -> oAdaptiveEngines,
    "q32_extract_contract" -> oExtractContract,
    "q04_title_classify" -> oTitleClassify,
    "q05_band_classify" -> oBandClassify,
    "q06_footer_regex" -> oFooterRegex,
    "q07_ocr_gate" -> oOcrGate,
    "q08_text_clean" -> oTextClean,
    "q09_bbox_union" -> oBBoxUnion,
    "q10_run_segments" -> oRunSegments,
    "q11_column_assign" -> oColumnAssign,
    "q12_histogram" -> oHistogram,
    "q13_column_estimate" -> oColumnEstimate,
    "q14_reading_order_k3" -> oReadingOrderK3,
    "q15_table_normalize" -> oTableNormalize,
    "q16_agg_pushdown" -> oAggPushdown,
    "q17_broadcast_join" -> oBroadcastJoin,
    "q18_window_running" -> oWindowRunning,
    "q19_topk" -> oTopK,
    "q20_mode_vote" -> oModeVote,
    "q21_token_count" -> oTokenCount,
    "q22_lang_id" -> oLangId,
    "q23_quality_score" -> oQualityScore,
    "q24_fingerprint" -> oFingerprint,
    "q25_dedup_exact" -> oDedupExact,
    "q26_ngram_jaccard" -> oNgramJaccard,
    "q27_minhash" -> oMinhash,
    "q28_minhash_lsh_buckets" -> oMinhashLshBuckets,
    "q29_simhash" -> oSimhash,
    "q30_cosine_topk" -> oCosineTopK,
    "q33_font_style" -> oFontStyle,
    "q34_embedding_neardup" -> oEmbeddingNearDup,
    "q35_token_count_native" -> oTokenCountNative,
    "q36_bbox_union_typed" -> oBBoxUnionTyped,
    "q37_salted_agg" -> oSaltedAgg,
    "q31_ann_lsh_buckets" -> oAnnLshBuckets,
    "q38_sessionize" -> oSessionize,
    "q39_repetition_filter" -> oRepetitionFilter,
    "q40_c4_heuristics" -> oC4Heuristics,
    "q41_nfc_normalize" -> oNfcNormalize,
    "q42_hash_sample" -> oHashSample,
    "q43_url_domain" -> oUrlDomain,
    "q44_length_quartiles" -> oLengthQuartiles,
    "q45_token_topk" -> oTokenTopK,
    "q46_subword_tokenize" -> oSubwordTokenize,
    "q47_pii_scrub" -> oPiiScrub,
    "q48_chunk_windows" -> oChunkWindows,
    "q49_decontaminate" -> oDecontaminate,
    "q50_dedup_clusters" -> oDedupClusters,
    "q51_media_decode" -> oMediaDecode,
    "q52_audio_decode" -> oAudioDecode,
    "q53_ann_ivf" -> oAnnIvf,
    // bit-identical to q49 by construction (exact confirm join) — same oracle
    "q54_decontaminate_bloom" -> oDecontaminate
  )
}
