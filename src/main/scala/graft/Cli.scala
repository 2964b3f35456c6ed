package graft

import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, size, sum, when}
import graft.model.{DocResult, ExtractConfig}
import graft.pipeline.Extract
import graft.io.TableIO

/** spark-submit entry mirroring the reference CLI (reference: cli.py:25-150:
  * `extract <input> [--format text|json|structured] [-o out]`, `info`,
  * `languages`), generalized from one PDF file to an input span table.
  *
  * Usage:
  *   Cli extract <inputParquet> <outDir> [text|json|structured] [engine]
  *   Cli snapshot <inputParquet> <tableRoot> <snapshotId>
  *   Cli info
  *   Cli languages
  */
object Cli {
  /** The snapshot id `extract … structured` writes under its `<outDir>`. */
  private val StructuredId = "extract"

  /** The contract rows of the parquet table at `input`, extracted in one job
    * into snapshot `id` under `root` by the resumable writer; quarantined
    * docs stay rows (readers take `filter(!quarantined)`). The manifest's
    * inputs name the input and the engine: a re-run from others throws, and
    * a re-run of an unfinished id extracts only its unmarked buckets' docs. */
  private[graft] def snapshot(spark: SparkSession, input: String, root: String, id: String,
      cfg: ExtractConfig = ExtractConfig.default): TableIO.Manifest = {
    val in = spark.read.parquet(input)
    val finished = TableIO.committedBuckets(root, id).toSeq
    // the writer buckets the contract's doc_id: the input's as a string, "" for null
    val todo = if (finished.isEmpty) in else in.filter(
      !TableIO.bucket(coalesce(col("doc_id").cast("string"), lit("")), TableIO.Buckets).isin(finished: _*))
    TableIO.writeSnapshotResumable(Extract.extractContract(todo, cfg), root, id, TableIO.Buckets,
      inputs = Seq(input, s"engine=${cfg.engine}"))
  }

  private def report(m: TableIO.Manifest): Unit =
    println(s"snapshot ${m.snapshotId}: ${m.rowCount} rows, ${m.files.length} files, " +
      s"committed at ${m.committedAtMs} by ${m.appId}, metrics ${m.metrics}")

  /** `results`, observing docs, pages, spans, quarantined and empty_docs into
    * `obs`, whose `get` holds them once an action over the results ends. */
  private[graft] def observeCounts(results: Dataset[DocResult], obs: Observation): Dataset[DocResult] = {
    val spans = coalesce(size(col("spans")), lit(0))
    val quarantined = col("quarantined")
    results.observe(obs, count(lit(1)).as("docs"), sum(col("num_pages")).as("pages"),
      sum(spans).as("spans"), count(when(quarantined, 1)).as("quarantined"),
      count(when(spans === 0 && !quarantined, 1)).as("empty_docs"))
  }

  def main(args: Array[String]): Unit = args.toList match {
    case "extract" :: input :: out :: rest =>
      val cfg = ExtractConfig.default.copy(outputFormat = rest.headOption.getOrElse("structured"),
        engine = rest.lift(1).getOrElse("core"))
      cfg.validate()
      val spark = Session.start()
      try {
        val t0 = System.nanoTime()
        if (cfg.outputFormat == "structured") report(snapshot(spark, input, out, StructuredId, cfg))
        else {
          import spark.implicits._
          val obs = Observation("graft.extract")
          val results = observeCounts(
            Extract.extract(spark.read.parquet(input).selectExpr("cast(doc_id as string) doc_id", "spans")
              .as[graft.model.RawDoc], cfg), obs)
            .toDF().filter(!col("quarantined"))
          // reference: models.py:200-203 save_text, one text file tree of doc texts
          if (cfg.outputFormat == "text") results.select(col("text")).write.mode("overwrite").text(s"$out/text")
          // reference: models.py:179-198 save_json (to_dict -> json.dumps; indentation is
          // sink formatting, not semantics)
          else results.write.mode("overwrite").json(s"$out/json")
          val wall = (System.nanoTime() - t0) / 1e9
          // a sum over no rows is null, which unboxes to 0
          val counts = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
          val throughput = Map("docs_per_sec" -> counts("docs") / wall, "pages_per_sec" -> counts("pages") / wall)
          System.err.println(s"[cli] metrics=$counts throughput=$throughput")
        }
        System.err.println(f"[cli] extract done in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $out")
      } finally spark.stop()

    case "snapshot" :: input :: root :: id :: Nil =>
      val spark = Session.start()
      try report(snapshot(spark, input, root, id))
      finally spark.stop()

    case "info" :: Nil =>
      // reference: cli.py:84-104
      println("graft extraction engine (Spark-native)")
      println(s"engines: core, fitz, plumber")
      println(s"formats: text, json, structured")
      println(s"config defaults: ${ExtractConfig.default}")

    case "languages" :: Nil =>
      // reference: cli.py:107-122 / ocr_processor.py:57-72
      graft.kernel.Extractor.SupportedOcrLanguages.foreach(println)

    case _ =>
      System.err.println("usage: Cli extract <inputParquet> <outDir> [text|json|structured] [core|fitz|plumber]")
      System.err.println(s"         structured: snapshot '$StructuredId' under <outDir>, as Cli snapshot writes it")
      System.err.println("       Cli snapshot <inputParquet> <tableRoot> <snapshotId>")
      System.err.println("         (quarantined docs stay rows; a re-run resumes, or fails if from another input/engine)")
      System.err.println("       Cli info | languages")
      sys.exit(1)
  }
}
