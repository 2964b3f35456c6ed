package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Physical-plan assertions: the plans we want, not just plans that pass
  * (scan pruning, filter pushdown, broadcast joins, whole-stage codegen,
  * partial aggregation). */
class PlanSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark
  private val sf = "/root/testdata/sf0.001"

  private def formatted(df: org.apache.spark.sql.DataFrame): String = {
    val qe = df.queryExecution
    qe.executedPlan.toString + "\n" + qe.optimizedPlan.toString
  }

  test("q16 agg: column pruning reaches the parquet scan + partial aggregation") {
    val df = ops.Queries.all("q16_agg_pushdown")(spark, sf)
    df.collect() // finalize AQE
    val plan = df.queryExecution.executedPlan.toString
    // scan must read only the 4 referenced columns
    assert(plan.contains("ReadSchema"))
    assert(!plan.contains("l_shipdate"), "scan reads unreferenced columns")
    assert(plan.contains("HashAggregate"), "no hash aggregation")
    // map-side combine: two HashAggregate nodes (partial + final)
    assert("HashAggregate".r.findAllIn(plan).length >= 2, "no partial aggregation")
  }

  test("q17 join: dimension tables broadcast, no sort-merge join") {
    val df = ops.Queries.all("q17_broadcast_join")(spark, sf)
    df.collect()
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "expected broadcast hash join")
    assert(!plan.contains("SortMergeJoin"), "dimension join fell back to sort-merge")
  }

  test("q30 topk: probe filter pushed to the parquet scan; corpus side never cross-joins") {
    // r6: the bounded probe side is collected with a COLUMN predicate (the
    // pushdown under test) and broadcast into the corpus mapPartitions —
    // assert the probe scan pushes, and the main plan carries no join at all
    import spark.implicits._
    val probeScan = spark.read.parquet(s"$sf/embeddings.parquet")
      .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      .filter(col("vec_id") < 10)
    val probePlan = probeScan.queryExecution.executedPlan.toString
    assert(probePlan.contains("LessThan(vec_id,10)"), s"probe filter not pushed:\n${probePlan.take(2000)}")
    val df = ops.Queries.all("q30_cosine_topk")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("BroadcastNestedLoopJoin"),
      s"corpus side pays a per-pair join:\n${plan.take(2000)}")
  }

  test("native TokenCountExpr participates in whole-stage codegen") {
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.Functions.token_count(col("text")).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    // the "*(n)" prefix marks operators fused into WholeStageCodegen stage n
    assert(plan.contains("*(1) Project [tokencountexpr"), s"expression fell out of codegen:\n$plan")
    // and values match the regex formulation
    val native = df.agg(sum("n")).collect()(0).getLong(0)
    val viaRegex = spark.read.parquet(s"$sf/documents.parquet")
      .agg(sum(ops.TextOps.tokenCount(col("text")))).collect()(0).getLong(0)
    assert(native == viaRegex)
  }

  test("extraction contract plan: scan prunes to doc_id + spans only") {
    val input = spark.read.parquet(s"$sf/lineitem.parquet") // wide table stand-in
    val docs = graft.SparkEntry.rawDocs(spark, sf).toDF()
    // the input's own exchanges show in the plan; the extraction adds none
    def exchanges(df: org.apache.spark.sql.DataFrame) =
      "Exchange".r.findAllIn(df.queryExecution.executedPlan.toString).length
    val out = graft.pipeline.Extract.extractSpansDF(docs)
    assert(exchanges(out) == exchanges(docs), out.queryExecution.executedPlan.toString)
    val _ = input
  }

  test("SparkEntry.entry runs the Doc node and returns the typed extract's non-quarantined spans") {
    import spark.implicits._
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("doc_id", "to_json(spans) AS j").as[(String, String)].collect().sortBy(_._1).toSeq
    val entry = graft.SparkEntry.entry(spark)
    assert(entry.columns.toSeq == Seq("doc_id", "spans"))
    val plan = entry.queryExecution.executedPlan.toString
    assert(plan.contains("GraftExtractExec Doc") && !plan.contains("MapPartitions"), plan)
    val typed = graft.pipeline.Extract.extract(graft.SparkEntry.rawDocs(spark, sf)).filter(!_.quarantined)
    val got = rows(entry)
    assert(got.nonEmpty)
    assert(got == rows(typed.toDF()))
  }

  test("typed extract, q01 and q02 run the kernel only in GraftExtractExec, with no typed operator around it") {
    import org.apache.spark.sql.execution.{ObjectConsumerExec, ObjectProducerExec}
    import graft.pipeline.GraftExtractExec
    object AQE extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    // SparkEntry.rawDocs' id -> RawDoc generator: the one object operator left
    val generator = Set("DeserializeToObject", "MapElements", "SerializeFromObject")
    def check(what: String, df: org.apache.spark.sql.DataFrame, kinds: Seq[String]): Unit = {
      val plan = df.queryExecution.executedPlan
      val text = plan.toString
      val nodes = AQE.collect(plan) { case g: GraftExtractExec => g.kind.toString }
      assert(nodes.sorted == kinds.sorted, s"$what: $nodes\n$text")
      for (op <- Seq("MapPartitions", "MapGroups", "AppendColumns"))
        assert(!text.contains(op), s"$what: $op in\n$text")
      val objectOps = AQE.collect(plan) { case p @ (_: ObjectConsumerExec | _: ObjectProducerExec) => p.nodeName }
      assert(objectOps.forall(generator) && objectOps.distinct == objectOps, s"$what: $objectOps\n$text")
    }
    check("Extract.extract", graft.pipeline.Extract.extract(graft.SparkEntry.rawDocs(spark, sf)).toDF(), Seq("Doc"))
    check("q01", ops.Queries.all("q01_extract_spans")(spark, sf), Seq("Doc"))
    check("q02", ops.Queries.all("q02_extract_skew_aware")(spark, sf), Seq("Doc", "Page", "Finalize"))
  }

  test("q26 join carries no broadcast hint on the corpus-sized side (VERDICT r01)") {
    val df = ops.Queries.all("q26_ngram_jaccard")(spark, sf)
    // the optimized logical plan must be hint-free: AQE may still broadcast
    // at tiny SF from measured stats (fine), but a planner-forced broadcast
    // of an unbounded side is the 100 TB OOM
    val optimized = df.queryExecution.optimizedPlan.toString
    assert(!optimized.contains("strategy=broadcast"), s"broadcast hint survived:\n${optimized.take(1500)}")
  }

  test("extractContract plans exactly two scans of the input (dead third leg removed, VERDICT r01)") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contract_plan").toString
    spark.createDataset(graft.fixtures.Fixtures.corpus(30).toSeq).toDF()
      .write.mode("overwrite").parquet(dir)
    val input = spark.read.parquet(dir)
    // both legs' parquet scans are visible (no hidden RDD leaf), and the
    // kernels are one GraftExtract node per kind: Doc (small leg), Page and
    // Finalize (big leg)
    val df = graft.pipeline.Extract.extractContract(input, skewSpanThreshold = 64)
    val plan = df.queryExecution.executedPlan.toString
    val visibleScans = "Scan parquet".r.findAllIn(plan).length
    assert(visibleScans == 2, s"expected 2 visible parquet scans, got $visibleScans:\n${plan.take(3000)}")
    assert(!plan.contains("Scan ExistingRDD"), s"hidden RDD leaf in the plan:\n${plan.take(3000)}")
    for (kind <- Seq("Doc", "Page", "Finalize")) {
      val n = s"GraftExtractExec $kind\\b".r.findAllIn(plan).length
      assert(n == 1, s"expected one GraftExtractExec $kind, got $n:\n${plan.take(3000)}")
    }
    // and no typed Dataset operator (encoder expression trees) in the contract path
    val optimized = df.queryExecution.optimizedPlan.toString
    for (op <- Seq("AppendColumns", "MapGroups", "DeserializeToObject"))
      assert(!optimized.contains(op), s"$op in the optimized plan:\n${optimized.take(3000)}")
  }

  /** Contract rows as a multiset of (doc_id, spans JSON, num_pages, quarantined, error_code). */
  private def contractBag(df: org.apache.spark.sql.DataFrame) = bagOf(contractTuples(df))

  private def contractTuples(df: org.apache.spark.sql.DataFrame) = {
    import spark.implicits._
    df.selectExpr("doc_id", "to_json(spans)", "num_pages", "quarantined", "error_code")
      .as[(String, String, Int, Boolean, String)]
  }

  private def bagOf[T](ds: org.apache.spark.sql.Dataset[T]): Map[T, Int] =
    ds.collect().toSeq.groupBy(identity).view.mapValues(_.size).toMap

  /** The same rows from a kernel-direct `Extractor.extractDoc` pass over `docs` on the driver. */
  private def directBag(docs: Seq[graft.model.RawDoc]) = {
    import spark.implicits._
    contractBag(spark.createDataset(docs.map(graft.kernel.Extractor.extractDoc(_))).toDF())
  }

  /** `docs` written as a Parquet table in a new temporary directory. */
  private def parquetOf(docs: Seq[graft.model.RawDoc], prefix: String, options: Map[String, String] = Map.empty) = {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory(prefix).toString
    spark.createDataset(docs).toDF().write.mode("overwrite").options(options).parquet(dir)
    dir
  }

  /** The GraftExtractExec kinds in `df`'s physical plan, and the plan. */
  private def extractKinds(df: org.apache.spark.sql.DataFrame): (Seq[String], String) = {
    val plan = df.queryExecution.executedPlan.toString
    (Seq("Doc", "Page", "Finalize").filter(k => s"GraftExtractExec $k\\b".r.findFirstIn(plan).isDefined), plan)
  }

  test("extractContract over a Parquet table whose footers rule out giants plans one scan and no exchange") {
    // Fixtures.corpus' giants have 150-300 pages, below the default 512-page threshold
    val docs = graft.fixtures.Fixtures.corpus(40)
    // a space in the path: the footers are found through the files' URIs
    val dir = parquetOf(docs, "contract one_scan")
    val managed = java.nio.file.Files.createTempDirectory("contract_one_scan_managed").toString
    graft.io.TableIO.writeContractInput(spark.read.parquet(dir), managed)
    val want = directBag(docs)
    for ((what, input) <- Seq(
        "raw table" -> spark.read.parquet(dir),
        "filtered raw table" -> spark.read.parquet(dir).filter(col("doc_id") =!= "x"),
        "managed table" -> spark.read.parquet(managed))) {
      val df = graft.pipeline.Extract.extractContract(input)
      val (kinds, plan) = extractKinds(df)
      assert("Scan parquet".r.findAllIn(plan).length == 1, s"$what:\n$plan")
      assert(!plan.contains("Exchange") && kinds == Seq("Doc"), s"$what:\n$plan")
      assert(contractBag(df) == want, what)
    }
  }

  test("footer pruning never moves a doc to the other leg") {
    import spark.implicits._
    import graft.model.{RawDoc, Span}
    import graft.pipeline.{Extract, GraftExtractExec}
    object AQE extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    val t = 512 * graft.kernel.Parse.SpansPerPage
    /** The contract rows and each kind's `number of docs` of one execution. */
    def run(df: org.apache.spark.sql.DataFrame) = {
      val rows = contractTuples(df)
      val bag = bagOf(rows)
      // the row-writing kinds count docs (Page counts pages)
      val docs = AQE.collect(rows.queryExecution.executedPlan) { case g: GraftExtractExec if g.metrics.contains("docs") =>
        g.kind.toString -> g.metrics("docs").value }.groupMapReduce(_._1)(_._2)(_ + _)
      (bag, docs)
    }
    val small = graft.fixtures.Fixtures.corpus(10)
    def text(n: Int, offset: Int => Int) = (0 until n).map(i => Span("text", s"w$i", "", offset(i)))

    // (a) one doc whose offsets pass t: both legs, and only that doc is split
    val giant = RawDoc("giant", text(t + 1, i => i))
    val withGiant = Extract.extractContract(spark.read.parquet(parquetOf(small :+ giant, "prune_giant")))
    assert(extractKinds(withGiant)._1 == Seq("Doc", "Page", "Finalize"), extractKinds(withGiant)._2)
    val (gotA, docsA) = run(withGiant)
    assert(gotA == directBag(small :+ giant) && docsA("Finalize") == 1, docsA)

    // (b) at a 2-page threshold, more spans than it on repeated offsets
    // below it, every tenth null: narrow, both where the footers prune and
    // where both legs are planned
    val t2 = 2 * graft.kernel.Parse.SpansPerPage
    val dense = RawDoc("dense", text(t2 + 5, i => i % 40))
    val denseDocs = (0 until 4).map(k => RawDoc(s"short-$k", text(20, i => i))) :+ dense
    val nulled = spark.createDataset(denseDocs).toDF().withColumn("spans", transform(col("spans"),
      (s: org.apache.spark.sql.Column) => s.withField("offset", when(s("offset") % 10 =!= 0, s("offset")))))
    val nulledDir = java.nio.file.Files.createTempDirectory("prune_dense").toString
    nulled.write.mode("overwrite").parquet(nulledDir)
    val wantB = directBag(denseDocs.map(d => d.copy(spans = d.spans.map(s => s.copy(offset =
      if (s.offset % 10 == 0) 0 else s.offset)))))
    for (input <- Seq(spark.read.parquet(nulledDir), nulled)) {
      val (got, docs) = run(Extract.extractContract(input, skewSpanThreshold = t2))
      assert(got == wantB && docs("Doc") == denseDocs.length && docs.getOrElse("Finalize", 0L) == 0, docs)
    }

    // (c) no column statistics, (d) a rebuilt spans column, (e) a local
    // relation: no footer bound, so both legs stay planned
    val dir = parquetOf(small, "prune_none")
    val noStats = parquetOf(small, "prune_nostats", Map("parquet.column.statistics.enabled" -> "false"))
    assert(extractKinds(Extract.extractContract(spark.read.parquet(dir)))._1 == Seq("Doc"))
    for ((what, input) <- Seq(
        "no statistics" -> spark.read.parquet(noStats),
        "rebuilt spans" -> spark.read.parquet(dir).withColumn("spans", transform(col("spans"), s => s)),
        "createDataset" -> spark.createDataset(small).toDF())) {
      val df = Extract.extractContract(input)
      assert(extractKinds(df)._1 == Seq("Doc", "Page", "Finalize"), s"$what:\n${extractKinds(df)._2}")
      assert(contractBag(df) == directBag(small), what)
    }

    // (f) a null n_spans is no giant, whether the footers prune or both legs run
    val unsized = spark.createDataset(small).toDF()
      .withColumn("n_spans", when(col("doc_id") =!= small.head.doc_id, size(col("spans"))))
    val unsizedDir = java.nio.file.Files.createTempDirectory("prune_unsized").toString
    unsized.write.mode("overwrite").parquet(unsizedDir)
    for ((input, kinds) <- Seq(spark.read.parquet(unsizedDir) -> Seq("Doc"), unsized -> Seq("Doc", "Page", "Finalize"))) {
      val df = Extract.extractContract(input)
      assert(extractKinds(df)._1 == kinds, extractKinds(df)._2)
      assert(contractBag(df) == directBag(small), kinds)
    }
  }

  test("SQL registry: graft_* functions callable from SQL") {
    graft.functions.Functions.registerAll(spark)
    val r = spark.sql(
      "SELECT graft_token_count(' a  b c ') AS n, graft_hash32('tok') AS h, graft_simhash32('a b') AS s").collect()(0)
    assert(r.getInt(0) == 3)
    assert(r.getLong(1) == ops.TextOps.hash32Kernel("tok"))
    assert(r.getLong(2) == ops.TextOps.simhash32Kernel("a b"))
  }

  test("native NfcNormalizeExpr: codegen'd, values match java.text.Normalizer") {
    graft.functions.Functions.registerAll(spark)
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.Functions.nfc_normalize(col("text")).as("t"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [nfcnormalizeexpr"), s"NFC fell out of codegen:\n${plan.take(800)}")
    // decomposed e + combining acute -> precomposed U+00E9; ASCII untouched
    val r = spark.sql("SELECT graft_nfc('Cafe\u0301 x') AS a, graft_nfc('plain') AS b").collect()(0)
    assert(r.getString(0) == "Caf\u00e9 x")
    assert(r.getString(1) == "plain")
  }

  test("size-statted managed input: n_spans predicate pushed to the parquet scan, results identical") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("contract_stats").toString
    val raw = spark.createDataset(graft.fixtures.Fixtures.corpus(40).toSeq).toDF()
    graft.io.TableIO.writeContractInput(raw.select(col("doc_id").cast("string").as("doc_id"), col("spans")), dir)
    val viaTable = graft.pipeline.Extract.extractContractFromTable(spark, dir, skewSpanThreshold = 64)
    // the big leg's size filter must reach the scan (pushable column, unlike size(spans))
    val plan = viaTable.queryExecution.executedPlan.toString
    // r5: the declarative page-split explode adds IsNotNull(spans) to the
    // pushed set, so match the n_spans predicates without the closing bracket
    assert(plan.contains("PushedFilters: [IsNotNull(n_spans), GreaterThan(n_spans,64)"),
      s"n_spans predicate not pushed:\n${plan.take(2500)}")
    // and so must the small leg's
    assert("PushedFilters: \\[[^\\]]*LessThanOrEqual\\(n_spans,64\\)".r.findFirstIn(plan).isDefined,
      s"small-leg n_spans predicate not pushed:\n${plan.take(2500)}")
    // identical results to the raw-input contract path
    val viaRaw = graft.pipeline.Extract.extractContract(raw, skewSpanThreshold = 64)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("doc_id", "to_json(spans) AS j", "num_pages", "quarantined")
        .as[(String, String, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(canon(viaTable) == canon(viaRaw))
  }

  test("extractContractFromTable: raw table without n_spans falls back, results identical") {
    import spark.implicits._
    // a RAW contract table (no stats column) pointed at the managed entry
    // must take the raw two-scan path, not fail on an unresolved column
    // (VERDICT r04 #1: stats are an optimization, never a correctness
    // requirement)
    val dir = java.nio.file.Files.createTempDirectory("contract_rawfb").toString
    val raw = spark.createDataset(graft.fixtures.Fixtures.corpus(40).toSeq).toDF()
    raw.select(col("doc_id").cast("string").as("doc_id"), col("spans"))
      .write.mode("overwrite").parquet(dir)
    val viaFallback = graft.pipeline.Extract.extractContractFromTable(spark, dir, skewSpanThreshold = 64)
    val viaRaw = graft.pipeline.Extract.extractContract(raw, skewSpanThreshold = 64)
    def canon(df: org.apache.spark.sql.DataFrame) =
      df.selectExpr("doc_id", "to_json(spans) AS j", "num_pages", "quarantined")
        .as[(String, String, Int, Boolean)].collect().sortBy(_._1).toSeq
    assert(canon(viaFallback) == canon(viaRaw))
  }

  test("connectedComponentsWithStats: round metrics, star converges at init, chain needs hops") {
    import spark.implicits._
    // pure hub-star: init (neighborhood min) is already correct, one
    // verification round only
    val star = Seq((5L, 1L), (9L, 1L), (7L, 1L)).toDF("src", "dst")
    val (l1, s1) = graft.ops.Dedup.connectedComponentsWithStats(star)
    assert(s1.converged && s1.rounds == 1, s"star: $s1")
    assert(l1.as[(Long, Long)].collect().toMap.values.toSet == Set(1L))
    // a 5-node chain needs label propagation across hops
    val chain = Seq((1L, 2L), (2L, 3L), (3L, 4L), (4L, 5L)).toDF("src", "dst")
    val (l2, s2) = graft.ops.Dedup.connectedComponentsWithStats(chain)
    assert(s2.converged && s2.rounds > 1, s"chain: $s2")
    assert(l2.as[(Long, Long)].collect().toMap.values.toSet == Set(1L))
    // maxIter bound: non-convergence is reported, not thrown
    val (_, s3) = graft.ops.Dedup.connectedComponentsWithStats(chain, maxIter = 1)
    assert(!s3.converged && s3.rounds == 1, s"bounded: $s3")
  }

  test("native SubwordCountExpr: codegen'd, greedy longest-match values") {
    graft.functions.Functions.registerAll(spark)
    val df = spark.read.parquet(s"$sf/documents.parquet")
      .select(graft.functions.Functions.subword_count(col("text")).as("n"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("*(1) Project [subwordcountexpr"), s"subword count fell out of codegen:\n${plan.take(800)}")
    // 'the' is one vocab token; 'thex' = 'the' + 'x' = 2; 'zzq' has no vocab
    // digrams -> 3 single chars; empty -> 0
    val r = spark.sql("SELECT graft_subword_count('The thex zzq') AS a, graft_subword_count('  ') AS b").collect()(0)
    assert(r.getLong(0) == 1 + 2 + 3, s"got ${r.getLong(0)}")
    assert(r.getLong(1) == 0L)
    // kernel twin agrees
    assert(graft.ops.Tokenize.countText("The thex zzq") == 6L)
  }

  test("q50 dedup-cluster edges: no pair materialization, no cartesian, hub join aggregated") {
    import spark.implicits._
    val docs = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    val edges = graft.ops.Dedup.lshCandidateEdges(docs)
    val plan = edges.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), "candidate edges must never cross-join")
    assert(!plan.contains("BroadcastNestedLoopJoin"), "candidate edges must never nested-loop")
    // star-edge shape (r6): bucket hubs come from ONE window min over the
    // (band, band_key) partition — no second exchange, no hub join; a
    // bucket of m docs still costs m-1 edge rows, never the m^2/2 pairs
    assert(plan.contains("Window"), "hub derivation must be the single-pass window min")
    assert(plan.contains("band_key"), "hub window must key on the LSH band hash")
  }

  test("qualityScore kernel twin agrees with the Column form (corpus + edges)") {
    import spark.implicits._
    val df = spark.read.parquet(s"$sf/documents.parquet").select(col("doc_id"), col("text"))
    val colVals = df.select(col("doc_id"), graft.ops.TextOps.qualityScore(col("text")).as("q"))
      .as[(Long, Double)].collect().toMap
    val kernelVals = df.as[(Long, String)].collect()
      .map { case (id, t) => id -> graft.ops.TextOps.qualityScoreKernel(t) }.toMap
    assert(colVals == kernelVals, "kernel twin diverged from the Column form on the corpus")
    val edges = Seq("", "   ", "a", "the the the of of", "x." * 200, "word " * 50 + "end.")
    val colEdge = edges.toDF("text")
      .select(graft.ops.TextOps.qualityScore(col("text")).as("q")).as[Double].collect().toSeq
    assert(colEdge == edges.map(graft.ops.TextOps.qualityScoreKernel),
      s"edge-case divergence: column=$colEdge kernel=${edges.map(graft.ops.TextOps.qualityScoreKernel)}")
  }

  test("file-backed subword vocabulary: committed resource loads; file grammar parsed") {
    // the committed demo vocab resource is the default (60 entries, 'the'
    // present, every entry >= 2 code points)
    assert(graft.ops.Tokenize.Vocab.length == 60, s"got ${graft.ops.Tokenize.Vocab.length}")
    assert(graft.ops.Tokenize.Vocab.contains("the") && graft.ops.Tokenize.Vocab.contains("tion"))
    // file grammar: trim, skip blanks and '#'-comments; empty file fails loudly
    val parsed = graft.ops.Tokenize.parseVocab(
      Iterator("# learned merges", "", "  the ", "ing", "# end"))
    assert(parsed == IndexedSeq("the", "ing"))
    intercept[IllegalArgumentException] {
      graft.ops.Tokenize.parseVocab(Iterator("# only comments", ""))
    }
  }

  test("GraftExtensions: native functions injectable via spark.sql.extensions") {
    import org.apache.spark.sql.SparkSession
    val prev = spark // keep the shared session alive
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      val s2 = SparkSession.builder()
        .master("local[2]")
        .config("spark.ui.enabled", "false")
        .withExtensions(new GraftExtensions()(_))
        .getOrCreate()
      val r = s2.sql("SELECT graft_token_count(' a  b c ') AS n, graft_nfc('Cafe\u0301') AS t, " +
        "graft_subword_count('the tokenizer') AS w").collect()(0)
      assert(r.getInt(0) == 3)
      assert(r.getString(1) == "Caf\u00e9")
      assert(r.getLong(2) == graft.ops.Tokenize.countText("the tokenizer"))
    } finally {
      SparkSession.setDefaultSession(prev)
      SparkSession.setActiveSession(prev)
    }
  }

  test("typed BBoxUnionAgg matches groupBy min/max") {
    import spark.implicits._
    val boxes = Seq(
      (1L, Seq(10.0, 5.0, 20.0, 15.0)),
      (1L, Seq(0.0, 8.0, 12.0, 30.0)),
      (2L, Seq(1.0, 1.0, 2.0, 2.0))).toDS()
    val agg = new graft.functions.BBoxUnionAgg().toColumn
    val out = boxes.groupByKey(_._1).mapValues(_._2).agg(agg.name("box"))
      .collect().toMap
    assert(out(1L) == graft.functions.BBoxUnionAgg.Box(0.0, 5.0, 20.0, 30.0))
    assert(out(2L) == graft.functions.BBoxUnionAgg.Box(1.0, 1.0, 2.0, 2.0))
  }
}
