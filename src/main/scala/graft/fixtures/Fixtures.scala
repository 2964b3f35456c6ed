package graft.fixtures

import org.apache.spark.sql.SparkSession
import graft.model.{RawDoc, Span}
import graft.kernel.Parse

/** Deterministic synthetic corpus generator (FIXTURES.md §2-3).
  *
  * Archetypes mirror the reference's e2e fixtures (patent22 two-column /
  * Skyworks single-column contract / tabular / image-heavy — referenced but
  * not shipped in the reference repo, tests/test_smartextractor.py:66-127):
  * every span's content is a pure function of (doc_id, offset) via a
  * splitmix64 stream, so any row count regenerates identically at any scale
  * and on any executor. Geometry comes from the fixed page template in
  * [[graft.kernel.Parse]].
  */
object Fixtures {

  val Archetypes: Vector[String] = Vector(
    "two_column_text", "single_column_contract", "tabular_report",
    "image_heavy_scan", "three_column_text", "skewed_giant", "empty_and_broken",
    "mixed_layout") // composite page: table + two-column rows + image together

  // connector-free word list (no substring in {and,or,but,however,therefore,
  // thus,hence}) -> exercises the clean single-gap split path
  private val CleanWords = Vector(
    "alpha", "beta", "gamma", "delta", "epsilon", "zeta", "theta", "iota",
    "kappa", "sigma", "tau", "phi", "chi", "psi", "omega", "vivid", "quill")
  // lorem-ish list containing connector substrings ('lorem' has 'or',
  // 'mandate' has 'and') -> exercises the connector-word veto + wide-block
  // 2-means split cascade (pdf_processor.py:186-220,388-394)
  private val VetoWords = Vector(
    "lorem", "ipsum", "dolor", "amet", "mandate", "standard", "corpus",
    "tensor", "vector", "record", "meadow", "anchor", "border", "candor")

  private def fnv64(s: String): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < s.length) { h ^= s.charAt(i).toLong; h *= 0x100000001b3L; i += 1 }
    h
  }

  private def splitmix(seed0: Long): () => Long = {
    var seed = seed0
    () => {
      seed += 0x9e3779b97f4a7c15L
      var z = seed
      z = (z ^ (z >>> 30)) * 0xbf58476d1ce4e5b9L
      z = (z ^ (z >>> 27)) * 0x94d049bb133111ebL
      z ^ (z >>> 31)
    }
  }

  private def words(rng: () => Long, list: Vector[String], maxChars: Int): String = {
    val sb = new StringBuilder
    var guard = 0
    while (guard < 50) {
      val w = list(((rng() % list.length + list.length) % list.length).toInt)
      if (sb.isEmpty) { if (w.length <= maxChars) sb ++= w else guard = 50 }
      else if (sb.length + 1 + w.length <= maxChars) { sb += ' '; sb ++= w }
      else guard = 50
      guard += 1
    }
    sb.toString
  }

  def archetypeOf(docId: String): String = {
    val cut = docId.lastIndexOf('-')
    val prefix = if (cut > 0) docId.substring(0, cut) else docId
    if (Archetypes.contains(prefix)) prefix
    else Archetypes(((fnv64(docId) % 5 + 5) % 5).toInt) // hash fallback: first 5
  }

  def docId(archetype: String, idx: Int): String = f"$archetype%s-$idx%05d"

  /** Generate one document's span stream. Total function of doc_id. */
  def gen(docId: String): RawDoc = {
    val archetype = archetypeOf(docId)
    val seed = fnv64(docId)
    val rng = splitmix(seed)
    val spans = Vector.newBuilder[Span]
    val P = Parse.SpansPerPage

    def centered(text: String): String = {
      // leading gap run centers the text: x0 = 50 + lead*8, want center ~400
      val lead = math.max(2, ((Parse.PageWidth / 2 - Parse.LeftMargin) / Parse.CharWidth - text.length / 2.0).round.toInt)
      (" " * lead) + text
    }

    def addText(offset: Int, text: String): Unit = spans += Span("text", text, "", offset)
    def addImage(offset: Int, page: Int, n: Int): Unit =
      spans += Span("image", "", s"media://$docId/p$page/i$n", offset)

    def header(page: Int): String =
      if (rng() % 2 == 0) centered("Header") else centered((page + 1).toString)
    def footer(page: Int): String =
      if (rng() % 2 == 0) centered(s"Page ${page + 1}") else centered((page + 1).toString)

    def twoColRow(offset: Int, clean: Boolean): Unit = {
      val list = if (clean) CleanWords else VetoWords
      val left = words(rng, list, 28)
      val right = words(rng, list, 28)
      val gap = 30 - left.length + 24 // left block padded to a 30-char grid + 24-space column gap
      addText(offset, left + (" " * gap) + right)
    }

    def bodyLine(offset: Int, maxChars: Int = 56): Unit =
      addText(offset, words(rng, VetoWords, maxChars))

    def tableAt(pageBase: Int, startLine: Int, rows: Int): Int = {
      addText(pageBase + startLine, "| Item | Qty | Price |")
      addText(pageBase + startLine + 1, "|------|-----|-------|")
      (0 until rows).foreach { r =>
        val item = CleanWords(((rng() % CleanWords.length + CleanWords.length) % CleanWords.length).toInt)
        val qty = ((rng() % 90 + 90) % 90) + 1
        val price = ((rng() % 9000 + 9000) % 9000) + 100
        addText(pageBase + startLine + 2 + r, f"| $item%s | $qty%d | ${price / 100}%d.${price % 100}%02d |")
      }
      startLine + 2 + rows
    }

    archetype match {
      case "two_column_text" =>
        val nPages = 2 + ((seed >>> 8) % 3).toInt.abs
        (0 until nPages).foreach { pg =>
          val base = pg * P
          addText(base, header(pg))
          if (pg == 0) addText(base + 1, "Document Title " + words(rng, CleanWords, 20))
          (2 until P - 2).foreach { i => twoColRow(base + i, clean = i % 2 == 0) }
          addText(base + P - 1, footer(pg))
        }

      case "single_column_contract" =>
        val nPages = 2 + ((seed >>> 8) % 3).toInt.abs
        (0 until nPages).foreach { pg =>
          val base = pg * P
          // left-aligned header/footer (regex-classified, not centered) so the
          // shared x0 keeps detector 1 on the single-column path
          addText(base, if (rng() % 2 == 0) "Header" else s"Chapter ${pg + 1}")
          if (pg == 0) addText(base + 1, "Asset Purchase Agreement")
          (2 until P - 2).foreach { i => bodyLine(base + i) }
          addText(base + P - 1, s"Page ${pg + 1}")
        }

      case "tabular_report" =>
        val nPages = 1 + ((seed >>> 8) % 3).toInt.abs
        (0 until nPages).foreach { pg =>
          val base = pg * P
          addText(base, header(pg))
          if (pg == 0) addText(base + 1, "Quarterly Report")
          var line = 2
          line = tableAt(base, line, 2 + ((rng() % 3 + 3) % 3).toInt)
          (line until P - 2).foreach { i => bodyLine(base + i, 48) }
          addText(base + P - 1, footer(pg))
        }

      case "image_heavy_scan" =>
        val nPages = 1 + ((seed >>> 8) % 3).toInt.abs
        (0 until nPages).foreach { pg =>
          val base = pg * P
          val nImages = 3 + ((rng() % 4 + 4) % 4).toInt
          (0 until nImages).foreach { n => addImage(base + 2 + 2 * n, pg, n) }
          // under 50 chars of text total -> OCR gate fires (core.py:267-278)
          addText(base + P - 2, words(rng, CleanWords, 30))
        }

      case "three_column_text" =>
        val nPages = 1 + ((seed >>> 8) % 2).toInt.abs
        (0 until nPages).foreach { pg =>
          val base = pg * P
          (2 until P - 2).foreach { i =>
            val a = words(rng, CleanWords, 13)
            val b = words(rng, CleanWords, 13)
            val c = words(rng, CleanWords, 13)
            // three 15-char grid cells separated by 16-space gaps
            addText(base + i, a + (" " * (15 - a.length + 16)) + b + (" " * (15 - b.length + 16)) + c)
          }
        }

      case "skewed_giant" =>
        val nPages = 150 + ((seed >>> 8) % 150).toInt.abs
        (0 until nPages).foreach { pg =>
          val base = pg * P
          addText(base, header(pg))
          var line = 2
          if (pg % 7 == 3) line = tableAt(base, line, 3)
          (line until P - 2).foreach { i => bodyLine(base + i) }
          if (pg % 11 == 5) addImage(base + P - 2, pg, 0)
          addText(base + P - 1, footer(pg))
        }

      case "mixed_layout" =>
        val nPages = 1 + ((seed >>> 8) % 2).toInt
        (0 until nPages).foreach { pg =>
          val base = pg * P
          addText(base, header(pg))
          if (pg == 0) addText(base + 1, "Mixed Layout Digest")
          var line = 2
          line = tableAt(base, line, 2)
          (line until P - 4).foreach { i => twoColRow(base + i, clean = i % 2 == 1) }
          addImage(base + P - 3, pg, 0)
          addText(base + P - 2, words(rng, VetoWords, 40))
          addText(base + P - 1, footer(pg))
        }

      case _ => // empty_and_broken
        ((seed % 3 + 3) % 3).toInt match {
          case 0 => // empty span array
          case 1 => spans += Span("text", null, null, 0) // malformed: null text
          case _ =>
            spans += Span("text", "   ", "", 0) // blank-only line
            spans += Span(null, "x", "", 1) // null kind
        }
    }
    RawDoc(docId, spans.result())
  }

  /** A corpus of n docs cycling the archetype mix (skewed_giant throttled to
    * 1-in-20 so it stays the tail, not the body). */
  def corpusIds(n: Int): IndexedSeq[String] =
    (0 until n).map { i =>
      val a = i % 20 match {
        case 19 => "skewed_giant"
        case 18 => "empty_and_broken"
        case k => Archetypes(k % 5)
      }
      docId(a, i)
    }

  def corpus(n: Int): IndexedSeq[RawDoc] = corpusIds(n).map(gen)

  /** A corpus where giants are RARE BY BYTES (1-in-`giantEvery` docs, no
    * broken docs): the at-scale skew profile where size-stats row-group
    * pruning pays. The standard 1-in-20 mix above makes giants ~84% of
    * corpus BYTES — there a pruned second scan saves almost nothing, which
    * says nothing about the 100-TB case where giants are a thin tail. */
  def corpusIdsRareGiants(n: Int, giantEvery: Int = 1000): IndexedSeq[String] =
    (0 until n).map { i =>
      val a = if (i % giantEvery == giantEvery - 1) "skewed_giant" else Archetypes(i % 5)
      docId(a, i)
    }

  /** Generates the docs of `ids` on the executors and writes them to `path`
    * as Parquet, in 128 partitions. */
  private[graft] def writeCorpus(spark: SparkSession, ids: Seq[String], path: String): Unit = {
    import spark.implicits._
    spark.createDataset(ids).repartition(128).map(gen _).write.mode("overwrite").parquet(path)
  }
}
