package graft.metrics

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.util.LongAccumulator
import graft.model.DocResult

/** Extraction metrics as Spark accumulators (SURVEY.md §4.2 lineage/metrics):
  * documents, pages, spans, quarantined rows, OCR-gate firings. Driver-side
  * reads after an action; per-partition deltas come free from the
  * accumulator machinery. */
final class ExtractMetrics(spark: SparkSession) extends Serializable {
  val docs: LongAccumulator = spark.sparkContext.longAccumulator("graft.docs")
  val pages: LongAccumulator = spark.sparkContext.longAccumulator("graft.pages")
  val spans: LongAccumulator = spark.sparkContext.longAccumulator("graft.spans")
  val quarantined: LongAccumulator = spark.sparkContext.longAccumulator("graft.quarantined")
  val emptyDocs: LongAccumulator = spark.sparkContext.longAccumulator("graft.empty_docs")

  def observe[T <: Product](ds: Dataset[T])(f: T => (Int, Int, Boolean)): Dataset[T] = {
    ds.map { r =>
      val (p, s, q) = f(r)
      docs.add(1)
      pages.add(p)
      spans.add(s)
      if (q) quarantined.add(1)
      if (s == 0 && !q) emptyDocs.add(1)
      r
    }(ds.encoder)
  }

  /** Instrument a DocResult stream. */
  def observeResults(ds: Dataset[DocResult]): Dataset[DocResult] =
    observe(ds)(r => (r.num_pages, r.spans.length, r.quarantined))

  def snapshot: Map[String, Long] = Map(
    "docs" -> docs.value,
    "pages" -> pages.value,
    "spans" -> spans.value,
    "quarantined" -> quarantined.value,
    "empty_docs" -> emptyDocs.value)

  def throughput(wallSec: Double): Map[String, Double] =
    Map("docs_per_sec" -> docs.value / wallSec, "pages_per_sec" -> pages.value / wallSec)
}
