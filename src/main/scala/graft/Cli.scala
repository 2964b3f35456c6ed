package graft

import org.apache.spark.sql.{Dataset, Observation}
import org.apache.spark.sql.functions.{coalesce, col, count, lit, size, sum, when}
import graft.model.{DocResult, ExtractConfig}
import graft.pipeline.Extract
import graft.io.{Sinks, TableIO}

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
      val format = rest.headOption.getOrElse("structured")
      val engine = rest.lift(1).getOrElse("core")
      val cfg = ExtractConfig.default.copy(engine = engine)
      cfg.validate()
      val spark = Session.start()
      try {
        val t0 = System.nanoTime()
        val in = spark.read.parquet(input)
        format match {
          case "structured" =>
            val result = Extract.extractContract(in, cfg)
            val (good, bad) = Sinks.splitQuarantine(result)
            Sinks.writeSpansBucketed(good, s"$out/spans")
            bad.write.mode("overwrite").json(s"$out/quarantine")
          case "text" | "json" =>
            import spark.implicits._
            val obs = Observation("graft.extract")
            val results = observeCounts(
              Extract.extract(in.selectExpr("cast(doc_id as string) doc_id", "spans").as[graft.model.RawDoc], cfg), obs)
              .toDF().filter(!col("quarantined"))
            if (format == "text") Sinks.writeText(results, s"$out/text")
            else Sinks.writeJson(results, s"$out/json")
            val wall = (System.nanoTime() - t0) / 1e9
            // a sum over no rows is null, which unboxes to 0
            val counts = obs.get.map { case (k, v) => k -> v.asInstanceOf[Long] }
            val throughput = Map("docs_per_sec" -> counts("docs") / wall, "pages_per_sec" -> counts("pages") / wall)
            System.err.println(s"[cli] metrics=$counts throughput=$throughput")
          case other =>
            throw new IllegalArgumentException(s"unknown format: $other (text|json|structured)")
        }
        System.err.println(f"[cli] extract done in ${(System.nanoTime() - t0) / 1e9}%.1f s -> $out")
      } finally spark.stop()

    case "snapshot" :: input :: root :: id :: Nil =>
      val spark = Session.start()
      try {
        val result = Extract.extractContract(spark.read.parquet(input))
        val (good, _) = Sinks.splitQuarantine(result)
        val m = TableIO.writeSnapshot(good, root, id, inputs = Seq(input))
        println(s"committed snapshot ${m.snapshotId}: ${m.rowCount} rows, ${m.files.length} files")
      } finally spark.stop()

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
      System.err.println("       Cli snapshot <inputParquet> <tableRoot> <snapshotId>")
      System.err.println("       Cli info | languages")
      sys.exit(1)
  }
}
