package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

object SparkTestSession {
  lazy val spark: SparkSession = Session.start(4)
}

class PipelineSparkSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  private def corpusDF(n: Int) = {
    import spark.implicits._
    spark.createDataset(graft.fixtures.Fixtures.corpus(n).toSeq).toDF()
  }

  /** Contract rows as (doc_id, spans JSON, num_pages, quarantined), by doc_id. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Int, Boolean)] = {
    import spark.implicits._
    df.selectExpr("doc_id", "coalesce(to_json(spans), '') AS j", "num_pages", "quarantined")
      .as[(String, String, Int, Boolean)].collect().sortBy(_._1).toSeq
  }

  /** The kernel-direct reference projected to the contract columns:
    * `Extractor.extractDoc` over the collected docs on the driver, so the
    * Spark paths are compared with the kernel, not with the node itself. */
  private def typedCanon(ds: org.apache.spark.sql.Dataset[graft.model.RawDoc],
      cfg: graft.model.ExtractConfig = graft.model.ExtractConfig.default) = {
    import spark.implicits._
    val direct = ds.collect().toSeq.map(graft.kernel.Extractor.extractDoc(_, cfg))
    canon(spark.createDataset(direct).toDF().select("doc_id", "spans", "num_pages", "quarantined"))
  }

  /** Row-by-row equality of two canon forms, naming the divergent doc. */
  private def assertSameRows(narrow: Seq[(String, String, Int, Boolean)],
      split: Seq[(String, String, Int, Boolean)], what: String): Unit = {
    assert(narrow.length == split.length, s"$what: row counts differ")
    narrow.zip(split).foreach { case (a, b) => assert(a == b, s"$what divergence on ${a._1}") }
  }

  test("extractContract == typed extract on the fixture corpus (fast-path equivalence)") {
    import spark.implicits._
    val input = corpusDF(60)
    // empty span arrays serialize as [] on the typed side and [] on the fast
    // side; both must agree row by row
    assertSameRows(typedCanon(input.as[graft.model.RawDoc]),
      canon(graft.pipeline.Extract.extractContract(input)), "fast-path")
  }

  test("extractSpansDF plan is shuffle-free (narrow pipeline)") {
    val input = corpusDF(10)
    val plan = graft.pipeline.Extract.extractSpansDF(input).queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle:\n$plan")
  }

  test("page-split leg equals narrow leg across every archetype") {
    import spark.implicits._
    val docs = graft.fixtures.Fixtures.Archetypes.flatMap(a =>
      (0 until 4).map(i => graft.fixtures.Fixtures.gen(graft.fixtures.Fixtures.docId(a, i))))
    val ds = spark.createDataset(docs.toSeq)
    // threshold 0: EVERY non-empty doc takes the page-split path
    val split = canon(graft.pipeline.Extract.extractContract(ds.toDF(), skewSpanThreshold = 0))
    assertSameRows(typedCanon(ds), split, "page-split")
  }

  test("page-split equals narrow on adversarial streams (unsorted, duplicate/negative offsets, nulls)") {
    import spark.implicits._
    // targets the r5 declarative explode's parity obligations: page =
    // offset/SpansPerPage with Java int-division (negatives truncate toward
    // zero), span order within a page = STABLE offset-sort (sort key must
    // include the original position), null span elements dropped
    val rnd = new scala.util.Random(4242)
    val docs = (0 until 30).map { i =>
      val n = 1 + rnd.nextInt(120)
      val spans: Vector[graft.model.Span] = rnd.shuffle((0 until n).map { j =>
        val off = rnd.nextInt(200) - 3 // negatives, duplicates, unsorted
        if (rnd.nextInt(12) == 0) null
        else if (rnd.nextInt(10) == 0) graft.model.Span("image", "", s"m://$i/$j", off)
        else graft.model.Span("text",
          if (rnd.nextInt(12) == 0) null
          else ("w" + rnd.nextInt(9) + " ") * (1 + rnd.nextInt(6)), "", off)
      }.toVector)
      graft.model.RawDoc(f"fuzz-$i%03d", spans)
    }
    // all-null span arrays: size(spans) > 0 so they REACH the page-split
    // leg, but they explode to zero real units — the sentinel mechanism must
    // keep them represented (the pre-r5 leg silently dropped them)
    val allNull = Seq(
      graft.model.RawDoc("fuzz-nulls-a", Vector(null, null, null)),
      graft.model.RawDoc("fuzz-nulls-b", Vector(null)))
    val ds = spark.createDataset(docs.toSeq ++ allNull)
    val split = canon(graft.pipeline.Extract.extractContract(ds.toDF(), skewSpanThreshold = 0))
    assertSameRows(typedCanon(ds), split, "adversarial page-split")
  }

  test("span struct fields are read by name, in any field order") {
    import spark.implicits._
    val ds = spark.createDataset(graft.fixtures.Fixtures.corpus(20).toSeq ++ Seq(
      graft.model.RawDoc("nulls", Vector(null, graft.model.Span("text", "x", "", 0)))))
    val reordered = ds.toDF().select(col("doc_id"), transform(col("spans"), s => when(s.isNotNull,
      struct(s("text").as("text"), s("offset").as("offset"), s("kind").as("kind"), s("media_ref").as("media_ref"))))
      .as("spans"))
    val direct = typedCanon(ds)
    assertSameRows(direct, canon(graft.pipeline.Extract.extract(reordered.as[graft.model.RawDoc]).toDF()
      .select("doc_id", "spans", "num_pages", "quarantined")), "typed extract")
    assertSameRows(direct, canon(graft.pipeline.Extract.extractContract(reordered)), "contract")
    assertSameRows(direct, canon(graft.pipeline.Extract.extractContract(reordered, skewSpanThreshold = 0)),
      "page-split contract")
  }

  test("skew-aware entry points honor cfg.engine (ADVICE r01: big docs must not silently run core)") {
    import spark.implicits._
    val docs = Seq("two_column_text", "single_column_contract", "tabular_report")
      .flatMap(a => (0 until 3).map(i => graft.fixtures.Fixtures.gen(graft.fixtures.Fixtures.docId(a, i))))
    val ds = spark.createDataset(docs)
    // the managed (size-statted) layout of the same docs: its n_spans column
    // would route them past the raw-input fallback into the split legs
    val managed = java.nio.file.Files.createTempDirectory("engine_managed").toString
    graft.io.TableIO.writeContractInput(ds.toDF(), managed)
    for (engine <- Seq("fitz", "plumber")) {
      val cfg = graft.model.ExtractConfig.default.copy(engine = engine)
      // threshold 0 used to page-split everything into the CORE pipeline;
      // now non-core engines take the narrow path unconditionally
      val contract = canon(graft.pipeline.Extract.extractContract(ds.toDF(), cfg, skewSpanThreshold = 0))
      assert(typedCanon(ds, cfg) == contract, s"engine=$engine diverged through the skew path")
      val narrow = canon(graft.pipeline.Extract.extractSpansDF(ds.toDF(), cfg))
      assert(contract == narrow, s"engine=$engine contract diverged")
      val fromTable = canon(graft.pipeline.Extract.extractContractFromTable(spark, managed, cfg,
        skewSpanThreshold = 0))
      assert(fromTable == narrow, s"engine=$engine managed-table contract diverged")
    }
  }

  test("cleanLines two-regex form == per-line trim+collapse (r6 rewrite equivalence)") {
    import spark.implicits._
    // the pre-r6 expression, kept here as the semantic reference: per
    // \n-line, Spark trim (spaces only) then \s+ -> " " collapse
    def reference(c: org.apache.spark.sql.Column) =
      array_join(transform(split(c, "\n", -1), l => regexp_replace(trim(l), "\\s+", " ")), "\n")
    val adversarial = Seq(
      "", " ", "  a  b  ", "a\nb", "a\n\nb", "\na", "a\n", "a\n   \nb",
      "a \t\n\tb", "\t a", " \ta ", "  \t a", "a \t", "xy", "x\fy",
      "x\ry", "x\r\ny", "xy", "x y", "a  b\tc d\n \f e",
      "\n\n", " \n \n ", "multi  word   line\nsecond\t\tline\n\tthird ")
    val df = adversarial.toDF("t")
      .select(col("t"), graft.ops.TextOps.cleanLines(col("t")).as("got"), reference(col("t")).as("want"))
    val rows = df.as[(String, String, String)].collect()
    rows.foreach { case (t, got, want) =>
      assert(got == want, s"cleanLines diverged on ${t.map(ch => f"\\u${ch.toInt}%04x").mkString}")
    }
  }

  test("GraftExtract nodes report the kernel-direct docs/pages/spans/quarantine counts as SQL metrics") {
    import spark.implicits._
    import graft.model.{ErrorCode, RawDoc, Span}
    import graft.pipeline.GraftExtractExec
    // the standard mix (giants, empty and broken docs) plus all-null span
    // arrays and null doc_ids, one of them above every threshold
    val docs = graft.fixtures.Fixtures.corpus(40) ++ Seq(
      RawDoc("fuzz-nulls-a", Vector(null, null, null)),
      RawDoc("fuzz-nulls-b", Vector(null)),
      RawDoc(null, Vector(Span("text", "no id", "", 0), Span("text", "x", "", 1))),
      RawDoc(null, Vector.empty))
    val direct = docs.map(graft.kernel.Extractor.extractDoc(_))
    val want = Map("docs" -> direct.length.toLong, "pages" -> direct.map(_.num_pages.toLong).sum,
      "spans" -> direct.map(_.spans.length.toLong).sum) ++
      Seq(ErrorCode.NullDocId, ErrorCode.Encrypted, ErrorCode.ParseError).map(c =>
        s"quarantined_$c" -> direct.count(r => r.quarantined && r.error_code == c).toLong)
    assert(want(s"quarantined_${ErrorCode.NullDocId}") == 2)
    val input = spark.createDataset(docs).toDF()
    object AQE extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    for (threshold <- Seq(0, 512 * graft.kernel.Parse.SpansPerPage)) {
      val df = graft.pipeline.Extract.extractContract(input, skewSpanThreshold = threshold)
      df.collect()
      // AQE may drop giant-leg nodes from the final plan when no giant
      // reaches them (empty input, empty output): those count zero
      val nodes = AQE.collect(df.queryExecution.executedPlan) { case g: GraftExtractExec => g }
      assert(nodes.map(_.kind.toString).distinct.length == nodes.length, s"threshold $threshold: $nodes")
      assert(nodes.exists(_.kind.toString == "Doc") && (threshold > 0 || nodes.length == 3),
        s"threshold $threshold: $nodes")
      def metric(kind: String, key: String) =
        nodes.filter(_.kind.toString == kind).map(_.metrics(key).value).sum
      // contract rows come out of Doc and Finalize; Page counts page kernels
      want.foreach { case (k, v) =>
        assert(metric("Doc", k) + metric("Finalize", k) == v, s"threshold $threshold: $k")
      }
      assert(metric("Page", "pages") == metric("Finalize", "pages"), s"threshold $threshold")
      if (threshold == 0) assert(metric("Finalize", "docs") > 0 && metric("Page", "kernelTime") > 0)
      val explained = df.queryExecution.explainString(org.apache.spark.sql.execution.FormattedMode)
      for (name <- Seq("GraftExtractExec Doc", "GraftExtractExec Page", "GraftExtractExec Finalize",
          "number of docs", "number of pages", "number of spans out", "kernel time",
          "quarantined null_doc_id", "quarantined encrypted", "quarantined parse_error"))
        assert(explained.contains(name), s"threshold $threshold: no '$name' in\n$explained")
    }
  }

  test("giant-leg finalize quarantines a kernel exception instead of throwing") {
    import spark.implicits._
    import graft.pipeline.{Extract, GraftExtract}
    // a page without text blocks makes Extractor.finalizeDoc throw; the
    // Finalize node over that Page-shaped row must quarantine the doc
    val broken = graft.model.PageResult(page_number = 1, text_blocks = null)
    val pages = Seq(("giant-1", 1, broken)).toDF("doc_id", "page_no", "page")
      .withColumn("error", lit(null).cast("string"))
      .withColumn("error_code", lit(null).cast("string"))
    val Array(r) = Extract.node(GraftExtract.Finalize, GraftExtract.Results, graft.model.ExtractConfig.default,
      pages).as[graft.model.DocResult].collect()
    assert(r.quarantined && r.error_code == graft.model.ErrorCode.ParseError, r.toString)
    assert(r.doc_id == "giant-1" && r.spans.isEmpty && r.num_pages == 0)
  }

  test("metrics accumulators count docs/pages/spans/quarantine") {
    import spark.implicits._
    val obs = org.apache.spark.sql.Observation("graft.extract.test")
    val ds = graft.pipeline.Extract.extract(
      spark.createDataset(graft.fixtures.Fixtures.corpus(40).toSeq))
    Cli.observeCounts(ds, obs).write.format("noop").mode("overwrite").save()
    val snap = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
    assert(snap("docs") == 40)
    assert(snap("pages") > 0 && snap("spans") > 0)
  }
}

class TableIOSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("snapshot write is atomic, idempotent, and readable via CURRENT") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_tableio").toString
    val df = (1 to 100).map(i => (s"d$i", i)).toDF("doc_id", "n")
    val m1 = graft.io.TableIO.writeSnapshot(df, root, "snap-001", inputs = Seq("unit-test"))
    assert(m1.rowCount == 100)
    assert(graft.io.TableIO.currentSnapshot(root).contains("snap-001"))
    // idempotent resume: same id short-circuits even with different data
    val m2 = graft.io.TableIO.writeSnapshot(df.limit(1), root, "snap-001")
    assert(m2.rowCount == 100)
    // second snapshot moves CURRENT
    graft.io.TableIO.writeSnapshot(df.limit(10), root, "snap-002")
    assert(graft.io.TableIO.currentSnapshot(root).contains("snap-002"))
    assert(graft.io.TableIO.readSnapshot(spark, root).count() == 10)
    assert(graft.io.TableIO.readSnapshot(spark, root, Some("snap-001")).count() == 100)
  }

  test("manifest row_count comes from the footers and equals the read-back count, on both writers") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_rowcount").toString
    val df = (1 to 100).map(i => (s"d$i", i)).toDF("doc_id", "n")
    for ((data, tag) <- Seq(df -> "full", df.limit(0) -> "empty", df.repartition(40) -> "many")) {
      val plain = graft.io.TableIO.writeSnapshot(data, root, s"plain-$tag")
      val resumable = graft.io.TableIO.writeSnapshotResumable(data, root, s"resumable-$tag", buckets = 4)
      if (tag == "many") assert(plain.files.length == 40, plain.files.length)
      for (m <- Seq(plain, resumable)) {
        assert(m.rowCount == (if (tag == "empty") 0 else 100), m.snapshotId)
        assert(graft.io.TableIO.readManifest(root, m.snapshotId).rowCount == m.rowCount, m.snapshotId)
        assert(graft.io.TableIO.readSnapshot(spark, root, Some(m.snapshotId)).count() == m.rowCount, m.snapshotId)
      }
    }
  }

  test("manifest round trip: escaped inputs and metrics read back as written") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_manifest").toString
    val df = (1 to 30).map(i => (s"d$i", i)).toDF("doc_id", "n").repartition(3)
    val inputs = Seq("/in/a,b.parquet", "/in/c]d", "/in/e\"f", "/in/g\\h", "/in/tab\there", "plain")
    val extra = Map("docs" -> 30L, "odd,key\"]" -> 7L)
    val first = graft.io.TableIO.writeSnapshot(df, root, "rt", inputs = inputs, extraMetrics = extra)
    val again = graft.io.TableIO.writeSnapshot(df.limit(1), root, "rt", inputs = Seq("other"))
    assert(again == first)
    assert(first.inputs == inputs)
    assert(first.metrics - "data_files" - "data_bytes" == extra)
    assert(first.metrics("data_files") == first.files.length && first.files.nonEmpty)
    assert(first.metrics("data_bytes") ==
      first.files.map(f => java.nio.file.Files.size(java.nio.file.Paths.get(f))).sum)
  }

  test("a snapshot directory holds only the committed files") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_onlycommitted").toString
    val target = java.nio.file.Paths.get(root, "data", "snapshot=s1")
    // what a crashed attempt leaves: a readable part file of other rows and
    // a hidden staging file
    val stale = java.nio.file.Files.createTempDirectory("graft_stale").toString
    (1 to 7).map(i => (s"stale$i", -i)).toDF("doc_id", "n").coalesce(1).write.mode("overwrite").parquet(stale)
    val stalePart = new java.io.File(stale).listFiles.find(_.getName.endsWith(".parquet")).get.toPath
    java.nio.file.Files.createDirectories(target)
    java.nio.file.Files.copy(stalePart, target.resolve("part-00000-crashed.snappy.parquet"))
    java.nio.file.Files.write(target.resolve(".part-00001-crashed-7.staging"), Array[Byte](1, 2, 3))

    val df = (1 to 50).map(i => (s"d$i", i)).toDF("doc_id", "n").repartition(4)
    val m = graft.io.TableIO.writeSnapshot(df, root, "s1")
    val left = target.toFile.listFiles.map(_.toString).toSet
    assert(left == m.files.toSet, left.map(_.stripPrefix(target.toString)).toString)
    assert(m.rowCount == 50)
    assert(graft.io.TableIO.readSnapshot(spark, root, Some("s1")).count() == m.rowCount)
  }

  test("snapshot commits close their directory listings (no descriptor leak)") {
    import spark.implicits._
    val fdDir = new java.io.File("/proc/self/fd")
    assume(fdDir.isDirectory, "needs /proc/self/fd")
    val root = java.nio.file.Files.createTempDirectory("graft_fdleak").toString
    val df = Seq(("d1", 1), ("d2", 2)).toDF("doc_id", "n").coalesce(1)
    // warm-up: the first write opens Spark's and Parquet's long-lived files
    graft.io.TableIO.writeSnapshotResumable(df, root, "warm", buckets = 2)
    graft.io.TableIO.writeSnapshot(df, root, "warm-plain")
    val before = fdDir.list().length
    (1 to 50).foreach { i =>
      graft.io.TableIO.writeSnapshot(df, root, s"s$i")
      assert(graft.io.TableIO.committedBuckets(root, "warm") == Set(0, 1))
    }
    val grown = fdDir.list().length - before
    assert(grown < 50, s"50 commits left $grown more open descriptors")
    assert(graft.io.TableIO.readSnapshot(spark, root).count() == 2)
  }

  test("snapshot writes the span text leaf without a dictionary; span kind keeps one") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_dict").toString
    // few distinct texts: without the fixed option Parquet keeps a text
    // dictionary here (near-unique real texts fall back to PLAIN anyway)
    val docs = (1 to 200).map(i => graft.model.RawDoc(f"d$i%03d",
      Seq(graft.model.Span("text", s"line ${i % 3}", "", 0), graft.model.Span("image", "", "", 1))))
    val files = graft.io.TableIO.writeSnapshot(spark.createDataset(docs).toDF(), root, "dict").files
    val conf = spark.sparkContext.hadoopConfiguration
    val usesDictionary = files.flatMap { f =>
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
        org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(new org.apache.hadoop.fs.Path(f), conf))
      try reader.getFooter.getBlocks.asScala.toSeq.flatMap(_.getColumns.asScala)
        .map(c => c.getPath.toDotString -> c.getEncodings.asScala.exists(_.usesDictionary))
      finally reader.close()
    }.groupMapReduce(_._1)(_._2)(_ || _)
    assert(usesDictionary.get("spans.list.element.text").contains(false), usesDictionary.toString)
    assert(usesDictionary.get("spans.list.element.kind").contains(true), usesDictionary.toString)
  }

  /** The standard mix (giants, empty and broken docs) plus all-null span
    * arrays and null doc_ids, as the Cli's parquet input under `dir`. */
  private def cliInput(dir: java.nio.file.Path, docs: Seq[graft.model.RawDoc]): String = {
    import spark.implicits._
    spark.createDataset(docs).write.parquet(s"$dir/in")
    s"$dir/in"
  }
  private lazy val cliDocs = {
    import graft.model.{RawDoc, Span}
    graft.fixtures.Fixtures.corpus(40) ++ Seq(
      RawDoc("fuzz-nulls-a", Vector(null, null, null)),
      RawDoc("fuzz-nulls-b", Vector(null)),
      RawDoc(null, Vector(Span("text", "no id", "", 0), Span("text", "x", "", 1))),
      RawDoc(null, Vector.empty))
  }

  /** `run`'s result and the `number of docs` of each SQL execution it
    * started that runs `GraftExtractExec`, read from the status store. */
  private def extractedDocs[T](run: => T): (T, Seq[Long]) = {
    val store = spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.statusStore
    def executions = { org.apache.spark.TestListenerBus.drain(spark.sparkContext); store.executionsList() }
    val before = executions.map(_.executionId).maxOption.getOrElse(-1L)
    val result = run
    val docs = executions.filter(_.executionId > before).flatMap { e =>
      val nodes = store.planGraph(e.executionId).allNodes.filter(_.name.startsWith("GraftExtractExec"))
      val values = store.executionMetrics(e.executionId)
      if (nodes.isEmpty) None
      else Some(nodes.flatMap(_.metrics).filter(_.name == "number of docs")
        .flatMap(mt => values.get(mt.accumulatorId)).map(_.replace(",", "").toLong).sum)
    }
    (result, docs)
  }

  /** The snapshot's (doc_id, spans, quarantined, error_code) rows, sorted. */
  private def contractRows(root: String, id: String) = {
    import spark.implicits._
    graft.io.TableIO.readSnapshot(spark, root, Some(id))
      .selectExpr("doc_id", "coalesce(to_json(spans), '')", "quarantined", "coalesce(error_code, '')")
      .as[(String, String, Boolean, String)].collect().sorted.toSeq
  }

  test("Cli snapshot keeps quarantined rows; one SQL execution extracts each doc once") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_cli_snapshot")
    val input = cliInput(dir, cliDocs)
    val (m, extracted) = extractedDocs(Cli.snapshot(spark, input, s"$dir/table", "s1"))
    assert(extracted == Seq(cliDocs.length.toLong), s"number of docs per extracting execution, ${cliDocs.length} docs")
    assert(m.rowCount == cliDocs.length)

    // (doc_id, spans, error_code) multisets, split by quarantined
    def canon(df: org.apache.spark.sql.DataFrame, quarantined: Boolean) =
      df.filter(col("quarantined") === quarantined)
        .selectExpr("doc_id", "coalesce(to_json(spans), '')", "coalesce(error_code, '')")
        .as[(String, String, String)].collect().sorted.toSeq
    val snap = graft.io.TableIO.readSnapshot(spark, s"$dir/table")
    assert(Seq("quarantined", "error", "error_code").forall(snap.columns.contains), snap.columns.toSeq)
    val direct = spark.createDataset(cliDocs.map(graft.kernel.Extractor.extractDoc(_))).toDF()
    for (q <- Seq(false, true)) assert(canon(snap, q) == canon(direct, q), s"quarantined = $q")
    // the kernel writes a null doc_id as ""
    assert(canon(snap, quarantined = true).count(_._3 == graft.model.ErrorCode.NullDocId) == 2)
    assert(canon(snap, quarantined = false).nonEmpty)
  }

  test("a resumed Cli snapshot extracts only the unfinished buckets' docs; another input or engine fails") {
    import java.nio.file.{Files, Paths}
    val dir = Files.createTempDirectory("graft_cli_resume")
    val input = cliInput(dir, cliDocs)
    val root = s"$dir/table"
    val fitz = graft.model.ExtractConfig.default.copy(engine = "fitz")
    val id = "extract"
    Cli.snapshot(spark, input, root, id)
    val whole = contractRows(root, id)
    val perBucket = graft.io.TableIO.readSnapshot(spark, root, Some(id)).groupBy("doc_bucket").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

    // a committed id made from another engine or input is not returned
    val other = cliInput(Files.createTempDirectory("graft_cli_other"), cliDocs.take(5))
    for ((in, cfg) <- Seq(input -> fitz, other -> graft.model.ExtractConfig.default)) {
      val e = intercept[IllegalStateException](Cli.snapshot(spark, in, root, id, cfg))
      assert(e.getMessage.contains(s"snapshot $id under $root was made from"), e.getMessage)
    }

    // what a run that died mid-job leaves: no manifest, every other bucket
    // marked, the unmarked ones' files still on disk
    val markers = Paths.get(root, "_manifests", s"buckets-$id")
    Files.delete(Paths.get(root, "_manifests", s"$id.json"))
    val dropped = perBucket.keys.toSeq.sorted.zipWithIndex.collect { case (b, i) if i % 2 == 0 => b }
    dropped.foreach(b => Files.delete(markers.resolve(s"bucket-$b.done")))
    val kept = graft.io.TableIO.committedBuckets(root, id)
    assert(kept.nonEmpty && kept == perBucket.keySet -- dropped)
    // a partly written id refuses another engine too, and keeps its markers
    intercept[IllegalStateException](Cli.snapshot(spark, input, root, id, fitz))
    assert(graft.io.TableIO.committedBuckets(root, id) == kept)

    val (m, extracted) = extractedDocs(Cli.snapshot(spark, input, root, id))
    assert(m.metrics("resumed_buckets") == kept.size)
    assert(extracted == Seq(dropped.map(perBucket).sum), s"resume extracted $extracted docs")
    assert(contractRows(root, id) == whole)
    assert(m.inputs == Seq(input, "engine=core"))
  }
}

class MultimodalSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("media pipeline: refs -> synthetic payloads -> deterministic features") {
    import spark.implicits._
    val input = spark.createDataset(Seq(
      graft.fixtures.Fixtures.gen(graft.fixtures.Fixtures.docId("image_heavy_scan", 1)),
      graft.fixtures.Fixtures.gen(graft.fixtures.Fixtures.docId("image_heavy_scan", 2)))).toDF()
    val spansTable = graft.pipeline.Extract.extractContract(input)
    val feats = graft.ops.Multimodal.mediaFeaturesForCorpus(spark, spansTable).collect()
    assert(feats.nonEmpty)
    assert(feats.forall(_.n_bytes > 0))
    assert(feats.forall(f => f.sha1.length == 40))
    val decoders = feats.map(_.decoder).toSet
    assert(decoders.subsetOf(Set("pnm", "imageio")),
      s"every synthetic payload (PGM/PNG/JPEG mix) must take a REAL decode path, got $decoders")
    assert(feats.map(_.media_ref).distinct.length == feats.length)
    // determinism
    val again = graft.ops.Multimodal.mediaFeaturesForCorpus(spark, spansTable).collect()
    assert(feats.sortBy(_.media_ref).toSeq == again.sortBy(_.media_ref).toSeq)
  }

  test("real PNM decoder: P5/P6 parse, comments, luma, malformed fallback") {
    import graft.ops.Multimodal
    // P5 grayscale 2x2 with a header comment
    val p5 = "P5\n# c\n2 2\n255\n".getBytes("US-ASCII") ++ Array[Byte](10, 20, 30, 40)
    val r5 = Multimodal.decodePnm(p5)
    assert(r5.contains(Array(Array(10, 20), Array(30, 40)).toSeq.map(_.toSeq))
      || r5.get.map(_.toSeq).toSeq == Seq(Seq(10, 20), Seq(30, 40)))
    // P6 RGB 1x1 pure red -> BT.601 luma 76
    val p6 = "P6\n1 1\n255\n".getBytes("US-ASCII") ++ Array[Byte](255.toByte, 0, 0)
    assert(Multimodal.decodePnm(p6).get.head.head == 76)
    // malformed: truncated raster / wrong magic -> None (falls back to stub)
    assert(Multimodal.decodePnm("P5\n4 4\n255\n".getBytes("US-ASCII") ++ Array[Byte](1, 2)).isEmpty)
    assert(Multimodal.decodePnm("JFIF....".getBytes("US-ASCII")).isEmpty)
    assert(Multimodal.decode("JFIF....".getBytes("US-ASCII"), 4, 2)._2 == "stub")
    // resize + frame sampling (real nearest-neighbor / offsets)
    val raster = Multimodal.decodeStub(Array.tabulate(256)(_.toByte), 16, 16)
    val small = Multimodal.resizeNearest(raster, 8, 8)
    assert(small.length == 8 && small(0).length == 8)
    assert(Multimodal.frameSample(1000, 100, 2) == Seq(0, 200, 400, 600, 800))
  }

  test("javax.imageio decode: real PNG and JPEG bytes, lossless PNG round-trip") {
    import graft.ops.Multimodal
    val w = 12; val h = 9
    val gray = Array.tabulate(w * h)(i => ((i * 37) % 256).toByte)
    def encode(fmt: String): Array[Byte] = {
      val img = new java.awt.image.BufferedImage(w, h, java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
      img.getRaster.setDataElements(0, 0, w, h, gray)
      val out = new java.io.ByteArrayOutputStream()
      javax.imageio.ImageIO.write(img, fmt, out)
      out.toByteArray
    }
    val png = encode("png"); val jpg = encode("jpg")
    assert(png.take(4).sameElements(Array[Byte](0x89.toByte, 'P', 'N', 'G')), "genuine PNG magic")
    assert((jpg(0) & 0xff) == 0xff && (jpg(1) & 0xff) == 0xd8, "genuine JPEG magic")
    // dispatch picks the real decoder for both
    val (pngRaster, pngDec) = Multimodal.decode(png, w, h)
    val (jpgRaster, jpgDec) = Multimodal.decode(jpg, w, h)
    assert(pngDec == "imageio" && jpgDec == "imageio")
    assert(pngRaster.length == h && pngRaster(0).length == w)
    assert(jpgRaster.length == h && jpgRaster(0).length == w)
    // PNG is lossless: decoded luma must equal the source grayscale exactly
    for (y <- 0 until h; x <- 0 until w)
      assert(pngRaster(y)(x) == (gray(y * w + x) & 0xff), s"PNG luma mismatch at ($x,$y)")
    // JPEG is lossy but close: mean abs error under 8 luma levels
    val err = (for (y <- 0 until h; x <- 0 until w)
      yield math.abs(jpgRaster(y)(x) - (gray(y * w + x) & 0xff))).sum.toDouble / (w * h)
    assert(err < 8.0, s"JPEG decode mean abs error $err too high")
  }

  test("javax.sound WAV decode: lossless PCM round-trip + audio features e2e") {
    import spark.implicits._
    import graft.ops.Multimodal
    // PCM round trip is lossless: decoded samples == encoded samples
    val samples = Array.tabulate(1000)(i => ((i * 331) % 65536 - 32768).toShort)
    val wav = Multimodal.encodeWavPcm16(samples, 8000)
    assert(wav.take(4).sameElements("RIFF".getBytes("US-ASCII")), "genuine RIFF magic")
    val Some((decoded, rate)) = Multimodal.decodeWavPcm(wav)
    assert(rate == 8000)
    assert(decoded.sameElements(samples), "WAV PCM round trip must be lossless")
    // malformed bytes fall through to the stub path
    assert(Multimodal.decodeWavPcm("not a wav at all........................................".getBytes).isEmpty)
    // e2e: synthetic audio corpus -> features, all through the REAL decoder
    val refs = spark.createDataset(Seq(("aud-1", "d1"), ("aud-2", "d2")))
    val feats = Multimodal.extractAudioFeatures(Multimodal.syntheticAudio(spark, refs)).collect()
    assert(feats.length == 2)
    assert(feats.forall(_.decoder == "wav"), s"got ${feats.map(_.decoder).toSeq}")
    assert(feats.forall(f => f.sample_rate == 8000 && f.n_samples > 0 && f.rms > 0.0))
    assert(feats.forall(f => f.duration_ms == f.n_samples * 1000L / 8000L))
    // determinism
    val again = Multimodal.extractAudioFeatures(Multimodal.syntheticAudio(spark, refs)).collect()
    assert(feats.sortBy(_.media_ref).toSeq == again.sortBy(_.media_ref).toSeq)
  }
}

class StreamingSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  /** Contract rows as (doc_id, spans JSON, num_pages, quarantined, error_code), by doc_id. */
  private def canon(df: org.apache.spark.sql.DataFrame): Seq[(String, String, Int, Boolean, String)] = {
    import spark.implicits._
    df.selectExpr("doc_id", "coalesce(to_json(spans), '') AS j", "num_pages", "quarantined", "error_code")
      .as[(String, String, Int, Boolean, String)].collect().sortBy(_._1).toSeq
  }

  /** Waits up to 120 s for an AvailableNow query to finish, or for `done`,
    * then stops it whatever happened, so a query that failed or timed out
    * never runs on beside the next one. `done` is for a query with
    * processing-time state timeouts: every batch of it asks for another, so
    * it runs no-data batches for ever and never finishes on its own.
    * Returns a diagnostic when the query neither finished nor was done. */
  private def awaitStopped(q: org.apache.spark.sql.streaming.StreamingQuery,
      done: org.apache.spark.sql.streaming.StreamingQuery => Boolean = _ => false): Option[String] = {
    val deadline = System.nanoTime + 120L * 1000 * 1000 * 1000
    try {
      while (q.isActive && !done(q) && System.nanoTime < deadline) q.awaitTermination(100)
      if (q.isActive && !done(q)) Some(s"stream ${q.id} did not finish within 120 s") else None
    } finally q.stop()
  }

  /** Streams the parquet files under `in` through `extractSpansDF` with
    * `Trigger.AvailableNow` into a parquet sink; returns the finished query
    * and the sink's rows. */
  private def streamOnce(in: String, dir: java.nio.file.Path) = {
    val q = spark.readStream
      .schema(graft.streaming.StreamingExtract.InputSchema)
      .parquet(in)
    val stream = graft.pipeline.Extract.extractSpansDF(q)
      .writeStream
      .format("parquet")
      .option("path", s"$dir/out")
      .option("checkpointLocation", s"$dir/cp")
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    awaitStopped(stream).foreach(fail(_))
    (stream, spark.read.parquet(s"$dir/out"))
  }

  /** The same files through the batch `extractSpansDF`. */
  private def batch(in: String) = graft.pipeline.Extract.extractSpansDF(
    spark.read.schema(graft.streaming.StreamingExtract.InputSchema).parquet(in))

  test("file-stream extraction: incremental parquet in, contract spans out") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_stream")
    val in = s"$dir/in"
    spark.createDataset(graft.fixtures.Fixtures.corpus(20).toSeq).toDF()
      .write.mode("overwrite").parquet(in)

    val (stream, result) = streamOnce(in, dir)
    assert(result.count() == 20)
    assert(result.columns.toSet == Set("doc_id", "spans", "num_pages", "quarantined", "error", "error_code"))
    assert(canon(result) == canon(batch(in)), "streamed rows differ from batch extractSpansDF")
    // each micro-batch runs the batch plan's GraftExtract Doc node, with its metrics
    val executed = stream.asInstanceOf[org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper]
      .streamingQuery.lastExecution.executedPlan
    val plan = executed.toString
    assert(plan.contains("GraftExtractExec Doc"), s"no GraftExtract node in the streaming plan:\n$plan")
    for (op <- Seq("DeserializeToObject", "MapPartitions"))
      assert(!plan.contains(op), s"$op in the streaming plan:\n$plan")
    val docs = executed.collect { case g: graft.pipeline.GraftExtractExec => g.metrics("docs").value }
    assert(docs == Seq(20L), s"number of docs metrics: $docs")
  }

  test("file-stream extraction keeps null span elements and null offsets, as batch does") {
    import spark.implicits._
    import graft.model.{RawDoc, Span}
    val dir = java.nio.file.Files.createTempDirectory("graft_stream_nulls")
    val in = s"$dir/in"
    // every fixture doc with one null span patched in, plus an all-null doc
    // and a trailing null element
    val patched = graft.fixtures.Fixtures.corpus(20).map(d =>
      if (d.spans == null || d.spans.isEmpty) d else d.copy(spans = d.spans.updated(d.spans.length / 2, null)))
    spark.createDataset(patched ++ Seq(
        RawDoc("nulls-all", Vector(null, null, null)),
        RawDoc("nulls-trailing", Vector(Span("text", "head line", "", 0), null))))
      .toDF().write.mode("overwrite").parquet(in)
    // a span whose offset is null (the Span case class cannot carry one)
    spark.sql("""SELECT 'null-offset' AS doc_id, array(
        named_struct('kind', 'text', 'text', 'first', 'media_ref', '', 'offset', 0),
        named_struct('kind', 'text', 'text', 'second', 'media_ref', '', 'offset', CAST(NULL AS INT))) AS spans""")
      .write.mode("append").parquet(in)

    val (_, result) = streamOnce(in, dir)
    val want = canon(batch(in))
    assert(want.length == 23)
    assert(canon(result) == want, "streamed rows differ from batch extractSpansDF")
  }

  test("stateful streaming dedup: first occurrence wins across micro-batches (flatMapGroupsWithState)") {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory("graft_sdedup")
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType)))
    def runBatch(): Unit = {
      val q = graft.streaming.StreamingExtract.dedupStream(
        spark.readStream.schema(schema).parquet(in))
        .toDF("fp", "keep_doc_id")
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", cp)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      awaitStopped(q).foreach(fail(_))
    }
    // batch 1: a and c normalize to the same fingerprint ("hello world")
    Seq(("a", "hello world"), ("b", "other text"), ("c", "Hello   WORLD"))
      .toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    runBatch()
    // batch 2: d duplicates batch-1 content (state must drop it), e is new
    Seq(("d", "hello world"), ("e", "fresh content"))
      .toDF("doc_id", "text").write.mode("append").parquet(in)
    runBatch()
    val rows = spark.read.parquet(out).as[(String, String)].collect().sortBy(_._1)
    assert(rows.map(_._1).distinct.length == rows.length, "duplicate fingerprint emitted")
    assert(rows.length == 3, s"expected 3 unique contents, got ${rows.toSeq}")
    assert(rows.exists(_._2 == "a"), "within-batch representative should be min doc_id 'a'")
    assert(!rows.exists(_._2 == "d"), "cross-batch duplicate leaked through state")
    // state key must be the full 128-bit md5 hex, not a 32-bit truncation
    assert(rows.forall(_._1.matches("[0-9a-f]{32}")),
      s"dedup key must be 128-bit md5 hex (collision-safe at scale), got ${rows.map(_._1).toSeq}")
  }

  /** Runs the TTL expiry/re-admission scenario in a fresh dir: batch 1
    * admits 'hello world', the TTL lapses (sleepMs), an unrelated batch 2
    * fires the expiry, batch 3 re-admits the same content. Returns Left
    * with a diagnostic when the observed rows differ — wall-clock-dependent,
    * so callers retry at widening margins instead of flaking on a loaded
    * box (ADVICE r04). */
  private def ttlExpiryScenario(sleepMs: Long, tag: String)(
      stream: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[(String, String)])
      : Either[String, Array[(String, String)]] = {
    import spark.implicits._
    import org.apache.spark.sql.types._
    val dir = java.nio.file.Files.createTempDirectory(s"graft_sdedup_$tag")
    val in = s"$dir/in"; val out = s"$dir/out"; val cp = s"$dir/cp"
    val schema = StructType(Seq(StructField("doc_id", StringType), StructField("text", StringType)))
    // each run has one new input file: it is done once a batch that read
    // rows has committed. A run that timed out is a Left: the next margin
    // retries it
    def runBatch(): Option[String] = awaitStopped(stream(spark.readStream.schema(schema).parquet(in))
      .toDF("fp", "keep_doc_id")
      .writeStream.format("parquet")
      .option("path", out).option("checkpointLocation", cp)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(), _.recentProgress.exists(_.numInputRows > 0))
    Seq(("a", "hello world")).toDF("doc_id", "text").write.mode("overwrite").parquet(in)
    runBatch().foreach(timeout => return Left(timeout))
    Thread.sleep(sleepMs) // let the TTL lapse
    // batch 2 carries unrelated data; its trigger fires the timeout that removes 'hello world' state
    Seq(("b", "other text")).toDF("doc_id", "text").write.mode("append").parquet(in)
    runBatch().foreach(timeout => return Left(timeout))
    // batch 3: the same content arrives after expiry -> re-admitted
    Seq(("c", "hello world")).toDF("doc_id", "text").write.mode("append").parquet(in)
    runBatch().foreach(timeout => return Left(timeout))
    val rows = spark.read.parquet(out).as[(String, String)].collect().sortBy(_._2)
    if (rows.map(_._2).toSeq == Seq("a", "b", "c")) Right(rows)
    else Left(s"expected a (first), b (other), c (re-admitted after TTL); got ${rows.toSeq}")
  }

  /** Retry the scenario at widening TTL-lapse margins; the first margin is
    * the fast path, the later ones absorb co-tenant scheduling delay. */
  private def ttlExpiryWithRetry(tag: String)(
      stream: org.apache.spark.sql.DataFrame => org.apache.spark.sql.Dataset[(String, String)])
      : Array[(String, String)] = {
    val margins = Seq(600L, 2500L, 8000L)
    var last: Either[String, Array[(String, String)]] = Left("not run")
    val it = margins.iterator
    while (last.isLeft && it.hasNext) last = ttlExpiryScenario(it.next(), tag)(stream)
    last.fold(diag => fail(s"TTL re-admission failed at all margins $margins: $diag"), identity)
  }

  test("streaming dedup TTL: expired fingerprint re-admits its next occurrence") {
    val ttl = java.time.Duration.ofMillis(200)
    val rows = ttlExpiryWithRetry("ttl")(df =>
      graft.streaming.StreamingExtract.dedupStream(df, stateTtl = Some(ttl)))
    val helloFp = graft.ops.TextOps.fingerprintKernel("hello world")
    assert(rows.count(_._1 == helloFp) == 2, "the expired fingerprint must appear twice")
  }

  test("connected components: transitive clusters from star edges, deterministic roots") {
    import spark.implicits._
    // two components: {1,2,3,7} via chain 3-1, 2-1, 7-3 (transitively joins
    // through 3) and {10,11}; node 20 isolated (absent from edges)
    val edges = Seq((3L, 1L), (2L, 1L), (7L, 3L), (11L, 10L)).toDF("src", "dst")
    val cc = graft.ops.Dedup.connectedComponents(edges)
      .as[(Long, Long)].collect().toMap
    assert(cc == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 7L -> 1L, 10L -> 10L, 11L -> 10L), s"got $cc")
    // cluster summary shape
    val clusters = graft.ops.Dedup.dedupClusters(
      Seq((0L, "alpha beta gamma delta epsilon zeta eta theta"),
          (5L, "alpha beta gamma delta epsilon zeta eta theta"),
          (9L, "totally different words with no overlap at all here")).toDF("doc_id", "text"))
      .as[(Long, Long, Long)].collect().sortBy(_._1)
    assert(clusters.toSeq == Seq((0L, 2L, 5L)), s"identical docs must cluster: ${clusters.toSeq}")
  }

  test("decontaminate: two independent tables, zero-shuffle corpus pass") {
    import spark.implicits._
    val corpus = Seq(
      (0L, "a b c d e f g h i j"),
      (1L, "z y x w v u t s r q"),
      (2L, "a b c d e f g h xx")).toDF("doc_id", "text")
    val bench = Seq("a b c d e f g h i j k l").toDF("text")
    val df = graft.ops.TextOps.decontaminate(corpus, bench, n = 8)
    // r5 shape (VERDICT r04 #2): bench grams are a driver-collected broadcast
    // hash set probed inside the shingling mapPartitions — the corpus pass
    // must be one narrow stage: no shuffle, no join, no per-gram explode
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange") && !plan.contains("Join"),
      s"decontaminate corpus pass must be shuffle- and join-free, got:\n$plan")
    val r = df.collect()
      .map(x => (x.getLong(0), x.getInt(1), x.getLong(2), x.getBoolean(4))).sortBy(_._1)
    assert(r(0) == ((0L, 3, 3L, true)), s"doc 0: ${r(0)}") // all three 8-grams in the suite
    assert(r(1) == ((1L, 3, 0L, false)), s"doc 1: ${r(1)}")
    assert(r(2) == ((2L, 2, 1L, true)), s"doc 2: ${r(2)}") // prefix gram only
  }

  test("streaming dedup SERVICE default: finite TTL on by default, expiry re-admits") {
    // the service entry point must default to a FINITE ttl (bounded state
    // for always-on deployments — VERDICT r03 #5); the exact-forever shape
    // stays opt-in via dedupStream(ttl = None)
    assert(!graft.streaming.StreamingExtract.DefaultDedupTtl.isZero &&
      !graft.streaming.StreamingExtract.DefaultDedupTtl.isNegative)
    assert(graft.streaming.StreamingExtract.DefaultDedupTtl.toHours == 24)
    ttlExpiryWithRetry("svc")(df =>
      graft.streaming.StreamingExtract.dedupStreamService(
        df, stateTtl = java.time.Duration.ofMillis(200)))
  }

  test("windowed throughput aggregation shape") {
    import spark.implicits._
    val events = Seq(
      (java.sql.Timestamp.valueOf("2026-01-01 00:00:10"), "d1", 5),
      (java.sql.Timestamp.valueOf("2026-01-01 00:00:50"), "d2", 7),
      (java.sql.Timestamp.valueOf("2026-01-01 00:01:10"), "d3", 3)
    ).toDF("event_time", "doc_id", "n_spans")
    val agg = graft.streaming.StreamingExtract.windowedThroughput(events)
      .orderBy("minute").collect()
    assert(agg.length == 2)
    assert(agg(0).getLong(1) == 2 && agg(0).getLong(2) == 12)
  }
}

class ContractRoundTripSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("contract output schema is stable through a parquet round trip") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_rt").toString
    val input = spark.createDataset(graft.fixtures.Fixtures.corpus(30).toSeq).toDF()
    val out = graft.pipeline.Extract.extractContract(input)
    out.write.mode("overwrite").parquet(dir)
    val back = spark.read.parquet(dir)
    assert(back.schema.map(f => (f.name, f.dataType.simpleString)) ==
      out.schema.map(f => (f.name, f.dataType.simpleString)))
    // values survive: re-derive and compare as sorted json
    val a = out.selectExpr("doc_id", "to_json(spans) j").as[(String, String)].collect().sortBy(_._1).toSeq
    val b = back.selectExpr("doc_id", "to_json(spans) j").as[(String, String)].collect().sortBy(_._1).toSeq
    assert(a == b)
    // and the round-tripped table feeds the pipeline again (idempotent shape):
    // output spans ARE a valid input span table
    val twice = graft.pipeline.Extract.extractContract(
      back.select("doc_id", "spans").filter(org.apache.spark.sql.functions.size($"spans") > 0))
    assert(twice.count() > 0)
  }
}

class ResumableSnapshotSpec extends AnyFunSuite {
  lazy val spark = SparkTestSession.spark

  test("bucket-level resume: committed buckets are skipped, missing ones rewritten") {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft_resume").toString
    val df = (0 until 2000).map(i => (s"doc-$i", i)).toDF("doc_id", "n")
    val buckets = 16

    // simulate a crashed first attempt: pre-commit markers for buckets 0..5
    // with their data written, nothing else
    val pre = df.withColumn("doc_bucket",
        pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
      .filter(col("doc_bucket") < 6)
    pre.repartition(col("doc_bucket")).write.mode("overwrite")
      .partitionBy("doc_bucket").parquet(s"$root/data/snapshot=s1")
    val markers = java.nio.file.Paths.get(root, "_manifests", "buckets-s1")
    java.nio.file.Files.createDirectories(markers)
    (0 until 6).foreach(b => java.nio.file.Files.write(markers.resolve(s"bucket-$b.done"), Array.empty[Byte]))
    val mtimes0 = (0 until 6).map { b =>
      val d = java.nio.file.Paths.get(s"$root/data/snapshot=s1/doc_bucket=$b")
      b -> java.nio.file.Files.list(d).toArray.map(_.toString).sorted.toSeq
    }.toMap

    // resume: must complete the remaining buckets without touching 0..5
    val m = graft.io.TableIO.writeSnapshotResumable(df, root, "s1", buckets)
    assert(m.rowCount == 2000)
    assert(m.metrics("resumed_buckets") == 6L)
    (0 until 6).foreach { b =>
      val d = java.nio.file.Paths.get(s"$root/data/snapshot=s1/doc_bucket=$b")
      val now = java.nio.file.Files.list(d).toArray.map(_.toString).sorted.toSeq
      assert(now == mtimes0(b), s"bucket $b was rewritten")
    }
    // full table readable and complete
    assert(graft.io.TableIO.readSnapshot(spark, root).count() == 2000)
    // idempotent: second call is a committed-snapshot no-op
    val m2 = graft.io.TableIO.writeSnapshotResumable(df.limit(1), root, "s1", buckets)
    assert(m2.rowCount == 2000)
  }

  test("a resumed snapshot holds only committed data") {
    import scala.jdk.CollectionConverters._
    import spark.implicits._
    import java.nio.file.{Files, Path, Paths}
    val root = Files.createTempDirectory("graft_resume_clean").toString
    val target = Paths.get(root, "data", "snapshot=s1")
    val buckets = 16
    def bucketDir(b: Int) = target.resolve(s"doc_bucket=$b")
    def listing(d: Path) = d.toFile.listFiles.map(_.toString).sorted.toSeq
    // three docs in three distinct buckets
    val ids = (0 until 20).map(i => s"doc-$i").toDF("doc_id")
      .select(col("doc_id"), pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int"))
      .as[(String, Int)].collect().groupBy(_._2).values.map(_.head).toSeq.sortBy(_._1).take(3)
    val Seq(committed, reached, _) = ids.map(_._2)
    val unreached = (0 until buckets).find(b => !ids.exists(_._2 == b)).get
    val df = ids.map(_._1).zipWithIndex.map { case (id, i) => (id, i + 1) }.toDF("doc_id", "n")

    // what crashed attempts leave: a committed bucket (marker, data file and
    // its .crc), a readable part file of 7 other rows in an unmarked bucket
    // the input does not reach, and a staging file in a bucket it does reach
    def writeOne(rows: org.apache.spark.sql.DataFrame, dir: Path, keep: String => Boolean): Unit = {
      val tmp = Files.createTempDirectory("graft_resume_src")
      rows.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
      Files.createDirectories(dir)
      tmp.toFile.listFiles.filter(f => keep(f.getName)).foreach(f => Files.copy(f.toPath, dir.resolve(f.getName)))
    }
    writeOne(df.filter(col("doc_id") === ids.head._1), bucketDir(committed), n => n.contains("part-"))
    writeOne((1 to 7).map(i => (s"stale$i", -i)).toDF("doc_id", "n"), bucketDir(unreached),
      n => n.startsWith("part-"))
    Files.createDirectories(bucketDir(reached))
    Files.write(bucketDir(reached).resolve(".part-00000-crashed-7.staging"), Array[Byte](1, 2, 3))
    val markers = Paths.get(root, "_manifests", "buckets-s1")
    Files.createDirectories(markers)
    Files.write(markers.resolve(s"bucket-$committed.done"), Array.empty[Byte])
    val committedListing = listing(bucketDir(committed))
    assert(committedListing.exists(_.endsWith(".crc")), committedListing.toString)

    val m = graft.io.TableIO.writeSnapshotResumable(df, root, "s1", buckets)
    val back = graft.io.TableIO.readSnapshot(spark, root, Some("s1"))
    assert(m.rowCount == 3 && back.count() == 3, s"rowCount ${m.rowCount}, ${back.count()} rows read")
    assert(m.metrics("resumed_buckets") == 1L)
    assert(back.schema.simpleString == "struct<doc_id:string,n:int,doc_bucket:int>", back.schema.simpleString)
    assert(listing(bucketDir(committed)) == committedListing, "the committed bucket was touched")
    val dirs = { val s = Files.walk(target); try s.iterator.asScala.filter(Files.isDirectory(_)).toVector finally s.close() }
    for (d <- dirs if d != bucketDir(committed)) {
      val files = d.toFile.listFiles.filter(_.isFile).map(_.toString).toSet
      assert(files == m.files.filter(f => Paths.get(f).getParent == d).toSet, s"$d holds $files")
    }
    assert(graft.io.TableIO.committedBuckets(root, "s1") == (0 until buckets).toSet)
  }

  test("a run killed mid-job keeps its finished buckets; the rerun resumes them") {
    import spark.implicits._
    import java.nio.file.{Files, Path, Paths}
    val root = Files.createTempDirectory("graft_kill").toString
    val buckets = 16
    val bucket = pmod(xxhash64(col("doc_id")), lit(buckets)).cast("int")
    // coalescing would merge the small write stage into one task
    val coalesceKey = "spark.sql.adaptive.coalescePartitions.enabled"
    val saved = spark.conf.getOption(coalesceKey)
    spark.conf.set(coalesceKey, "false")
    val tasks = spark.conf.get("spark.sql.shuffle.partitions").toInt
    // releases the victim once every other write task has ended
    val listener = new org.apache.spark.scheduler.SparkListener {
      private val ended = new java.util.concurrent.atomic.AtomicInteger
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskType == "ResultTask" && e.reason == org.apache.spark.Success &&
          ended.incrementAndGet() == tasks - 1) KillGate.release.countDown()
    }
    def bytes(dirs: Set[Int]): Map[Path, Seq[Byte]] = dirs.toSeq.flatMap { b =>
      Paths.get(root, "data", "snapshot=s1", s"doc_bucket=$b").toFile.listFiles.toSeq
        .map(f => f.toPath -> Files.readAllBytes(f.toPath).toSeq)
    }.toMap
    try {
      // the input arrives hash-partitioned by the writer's own bucket column,
      // so Spark plans no second shuffle for the writer's repartition and the
      // UDF runs inside the write tasks, each owning a group of whole buckets
      val df = (0 until 400).map(i => (s"doc-$i", i)).toDF("doc_id", "n").repartition(bucket)
        .withColumn("n", KillGate.gate(col("doc_id"), col("n")))
      val owner = df.select(bucket.as("b"), pmod(hash(bucket), lit(tasks)).as("p")).distinct()
        .as[(Int, Int)].collect().toMap
      val victimTask = owner(df.filter(col("doc_id") === KillGate.Victim).select(bucket).as[Int].head())
      val finished = owner.collect { case (b, p) if p != victimTask => b }.toSet
      assert(finished.nonEmpty && owner.values.toSet.size == tasks, owner.toString)

      KillGate.release = new java.util.concurrent.CountDownLatch(1)
      KillGate.armed = true
      spark.sparkContext.addSparkListener(listener)
      val failure = intercept[org.apache.spark.SparkException](
        graft.io.TableIO.writeSnapshotResumable(df, root, "s1", buckets))
      KillGate.armed = false
      assert(failure.getMessage.contains(s"killed on ${KillGate.Victim}"), failure.getMessage)
      assert(!graft.io.TableIO.isCommitted(root, "s1") && graft.io.TableIO.currentSnapshot(root).isEmpty)
      assert(graft.io.TableIO.committedBuckets(root, "s1") == finished)
      val kept = bytes(finished)

      val m = graft.io.TableIO.writeSnapshotResumable(df, root, "s1", buckets)
      assert(m.metrics("resumed_buckets") == finished.size.toLong)
      assert(bytes(finished) == kept, "a finished bucket was rewritten")
      val whole = graft.io.TableIO.writeSnapshotResumable(df, root, "uninterrupted", buckets)
      def rows(id: String) = graft.io.TableIO.readSnapshot(spark, root, Some(id))
        .as[(String, Int, Int)].collect().sorted.toSeq
      assert(m.rowCount == 400 && whole.rowCount == 400)
      assert(rows("s1") == rows("uninterrupted"))
    } finally {
      KillGate.armed = false
      KillGate.release.countDown()
      spark.sparkContext.removeSparkListener(listener)
      saved.fold(spark.conf.unset(coalesceKey))(spark.conf.set(coalesceKey, _))
    }
  }
}

/** The kill switch of the mid-job failure test: a UDF that, while armed,
  * blocks on the victim doc until `release` opens, then throws. */
object KillGate {
  @volatile var armed = false
  @volatile var release = new java.util.concurrent.CountDownLatch(1)
  val Victim = "doc-0"
  val gate = udf { (id: String, n: Int) =>
    if (armed && id == Victim) {
      release.await(30, java.util.concurrent.TimeUnit.SECONDS)
      throw new IllegalStateException(s"killed on $id")
    }
    n
  }
}
