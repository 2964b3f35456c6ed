package graftbench

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import graft.fixtures.Fixtures
import graft.kernel.{Extractor, Parse}
import graft.model.{ExtractConfig, Span}

/** Order-insensitive content digest of a contract span table. */
final case class Digest(rows: Long, hash: java.math.BigDecimal) {
  override def toString: String = s"rows=$rows hash=${hash.toPlainString}"
}

/** Kernel-direct reference pass and kernel self-time probes. These call
  * graft.kernel with no io or pipeline layer in between, so they serve both
  * as the correctness reference and as the kernel's own measurements. */
object Kernel {
  final case class DocRow(doc_id: String, spans: Seq[Span], num_pages: Int,
      quarantined: Boolean, ns: Long)

  /** `sum(xxhash64(doc_id, spans))` over all rows, summed exactly. */
  private def hashSum =
    coalesce(sum(xxhash64(col("doc_id"), col("spans")).cast("decimal(38,0)")), lit(0).cast("decimal(38,0)"))

  def digest(df: DataFrame): Digest = {
    val r = df.select(count(lit(1)), hashSum).collect()(0)
    Digest(r.getLong(0), r.getDecimal(1))
  }

  /** `Extractor.extractDoc` over fixture docs regenerated from their ids,
    * each call timed on its own (generation is outside the timing). */
  def direct(spark: SparkSession, ids: Seq[String], parts: Int): Dataset[DocRow] = {
    import spark.implicits._
    spark.createDataset(ids).repartition(parts).mapPartitions { it =>
      it.map { id =>
        val doc = Fixtures.gen(id)
        val t0 = System.nanoTime()
        val r = Extractor.extractDoc(doc, ExtractConfig.default)
        DocRow(r.doc_id, r.spans, r.num_pages, r.quarantined, System.nanoTime() - t0)
      }
    }
  }

  final case class DirectSummary(digest: Digest, pages: Long, spansOut: Long, quarantined: Long,
      busySecs: Double, docUsP50: Double, docUsP99: Double)

  /** One pass over [[direct]]: the reference digest plus the kernel counts. */
  def directSummary(rows: Dataset[DocRow]): DirectSummary = {
    val r = rows.toDF().select(
        count(lit(1)),
        hashSum,
        sum(col("num_pages").cast("long")),
        sum(size(col("spans")).cast("long")),
        sum(col("quarantined").cast("long")),
        sum(col("ns")),
        percentile(col("ns"), array(lit(0.5), lit(0.99))))
      .collect()(0)
    val ps = r.getSeq[Double](6)
    DirectSummary(Digest(r.getLong(0), r.getDecimal(1)), r.getLong(2), r.getLong(3), r.getLong(4),
      r.getLong(5) / 1e9, ps(0) / 1e3, ps(1) / 1e3)
  }

  /** `Extractor.extractPage` timed per page over every page of the given
    * docs, in parallel tasks. Returns per-page microseconds. */
  def pageMicros(spark: SparkSession, ids: Seq[String], parts: Int): Array[Double] = {
    import spark.implicits._
    spark.createDataset(ids).repartition(math.max(1, math.min(parts, ids.size))).flatMap { id =>
      val spans = Fixtures.gen(id).spans.filter(_ != null)
      Parse.paginate(spans).map { case (p, ss) =>
        val t0 = System.nanoTime()
        Extractor.extractPage(p, ss, ExtractConfig.default)
        (System.nanoTime() - t0) / 1e3
      }
    }.collect()
  }

  final case class SelfTimes(parseSecs: Double, layoutSecs: Double, finalizeSecs: Double,
      pages: Long, allocBytesPerPage: Double)

  /** Single-thread self times of the kernel's stages over a fixed doc sample:
    * `Parse.parsePage`, `Extractor.processSinglePage` (layout, tables,
    * images) and `Extractor.finalizeDoc` (merge, `TextClean.postProcess`,
    * span projection). One untimed pass warms the JIT first. */
  def selfTimes(ids: Seq[String]): SelfTimes = {
    val cfg = ExtractConfig.default
    val docs = ids.map(Fixtures.gen)
    val threads = java.lang.management.ManagementFactory.getThreadMXBean
      .asInstanceOf[com.sun.management.ThreadMXBean]
    def pass(): SelfTimes = {
      var parse, layout, fin, pages = 0L
      val a0 = threads.getCurrentThreadAllocatedBytes
      docs.foreach { d =>
        val spans = if (d.spans == null) Nil else d.spans.filter(_ != null)
        val results = Parse.paginate(spans).map { case (p, ss) =>
          val t0 = System.nanoTime()
          val data = Parse.parsePage(p, ss, cfg)
          val t1 = System.nanoTime()
          val page = Extractor.processSinglePage(data, p + 1, cfg)
          parse += t1 - t0
          layout += System.nanoTime() - t1
          pages += 1
          page
        }
        val t2 = System.nanoTime()
        Extractor.finalizeDoc(d.doc_id, results, cfg)
        fin += System.nanoTime() - t2
      }
      val alloc = threads.getCurrentThreadAllocatedBytes - a0
      SelfTimes(parse / 1e9, layout / 1e9, fin / 1e9, pages, alloc.toDouble / math.max(1L, pages))
    }
    pass()
    pass()
  }

  /** The fixed sample: the first 400 ids of the standard fixture mix. */
  lazy val sampleIds: Seq[String] = Fixtures.corpusIds(400)
}
