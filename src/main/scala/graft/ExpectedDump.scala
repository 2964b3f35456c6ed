package graft

import java.nio.file.{Files, Paths}
import graft.kernel.{AdaptiveFitz, AdaptivePlumber, Parse}

/** Dumps the DERIVED INPUTS (chars/images/tables/line-blocks/words/probe
  * flags) for every document of one or more sf corpora, as JSONL for
  * tools/gen_expected.py — which replays the ACTUAL reference Python
  * (smartextractor) over them and materializes the expected per-doc summary
  * table (n_spans / n_pages / text_len per engine) that backs the DuckDB
  * oracles of q01/q02/q03/q32.
  *
  * Only the derivation layer (geometry template, FIXTURES.md §2) runs here;
  * every behavior under test — line assembly, layout, merge, post-process,
  * adaptive engines — is computed reference-side in Python. Regenerate with:
  *
  *   sbt "runMain graft.ExpectedDump /tmp/expected_dump.jsonl /root/testdata/sf0.1 /root/testdata/sf0.01 /root/testdata/sf0.001"
  *   GRAFT_KMEANS=exact python3 tools/gen_expected.py /tmp/expected_dump.jsonl src/main/resources/graft/expected_docs.csv
  */
object ExpectedDump {

  private def jstr(s: String): String = graft.io.TableIO.Json.writeValueAsString(s)

  def docJson(srcId: String): String = {
    val doc = SparkEntry.rawDocFor(srcId)
    val spans = doc.spans
    val physPages = if (spans.isEmpty) 0 else spans.iterator.map(s => Parse.pageOf(s.offset)).max + 1

    // paginated (sparse) pages — what the core pipeline consumes
    val pagesJson = Parse.paginate(spans).map { case (p, ss) =>
      val textSpans = ss.filter(s => s.kind == null || s.kind != "image")
      val linesJson = textSpans.map { s =>
        val run = Parse.deriveCharRun(s)
        s"""{"o":${s.offset},"t":${jstr(run.text(0, run.length))},"g":[${run.grid.mkString(",")}]}"""
      }.mkString("[", ",", "]")
      val imagesJson = ss.filter(_.kind == "image").map { s =>
        s"""{"o":${s.offset},"ref":${jstr(if (s.media_ref == null) "" else s.media_ref)}}"""
      }.mkString("[", ",", "]")
      val tables = Parse.extractTablesLines(textSpans.map(s => Option(s.text).getOrElse("")))
      val tablesJson = tables.map(t =>
        s"""{"rows":${t.rows},"cols":${t.cols},"data":${t.data.map(r => r.map(jstr).mkString("[", ",", "]")).mkString("[", ",", "]")}}""").mkString("[", ",", "]")
      s"""{"page":$p,"lines":$linesJson,"images":$imagesJson,"tables":$tablesJson}"""
    }.mkString("[", ",", "]")

    // physical page 0 inputs for the adaptive engines
    val page0 = spans.filter(s => Parse.pageOf(s.offset) == 0)
    val fitzJson = AdaptiveFitz.lineBlocks(page0).map(b =>
      s"""{"t":${jstr(b.text)},"x0":${b.x0},"y0":${b.y0},"x1":${b.x1},"y1":${b.y1}}""").mkString("[", ",", "]")
    val wordsJson = AdaptivePlumber.extractWords(page0).map(w =>
      s"""{"t":${jstr(w.text)},"x0":${w.x0},"x1":${w.x1},"top":${w.top}}""").mkString("[", ",", "]")
    // per-PHYSICAL-page text-strategy table probe (adaptive_pdfplumber.py:41)
    val probeJson = (0 until physPages).map { p =>
      val lines = spans.filter(s => Parse.pageOf(s.offset) == p)
        .sortBy(_.offset).filter(_.kind != "image").map(Parse.deriveLine)
      Parse.extractTableTextStrategy(lines).exists(_.data.nonEmpty)
    }.mkString("[", ",", "]")

    s"""{"src_id":${jstr(srcId)},"doc_id":${jstr(doc.doc_id)},"phys_pages":$physPages,""" +
      s""""pages":$pagesJson,"fitz_blocks":$fitzJson,"plumber_words":$wordsJson,"plumber_probe":$probeJson}"""
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/expected_dump.jsonl")
    val sfDirs = if (args.length > 1) args.drop(1).toSeq else Seq("/root/testdata/sf0.1")
    val spark = Session.start()
    import spark.implicits._
    val ids = sfDirs.flatMap { dir =>
      spark.read.parquet(s"$dir/documents.parquet")
        .select(org.apache.spark.sql.functions.col("doc_id").cast("string")).as[String].collect()
    }.distinct.sortBy(s => (s.length, s)) // numeric-ish stable order
    val w = Files.newBufferedWriter(Paths.get(out))
    try ids.foreach { id => w.write(docJson(id)); w.newLine() }
    finally w.close()
    println(s"wrote ${ids.length} docs to $out")
    spark.stop()
  }
}
