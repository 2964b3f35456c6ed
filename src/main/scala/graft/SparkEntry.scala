package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import org.apache.spark.sql.functions._
import graft.model.{RawDoc, ExtractConfig}
import graft.fixtures.Fixtures
import graft.pipeline.Extract

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {

  /** Deterministic RawDoc for one source doc_id — the single mapping shared
    * by [[rawDocs]] and the expected-oracle generator ([[ExpectedDump]]), so
    * the two can never drift. */
  def rawDocFor(id: String): RawDoc =
    Fixtures.gen(Fixtures.docId(Fixtures.Archetypes(((id.hashCode % 5) + 5) % 5), id.toInt))

  /** Deterministic interleaved-span documents derived from the driver's
    * `documents` parquet: doc_id seeds the archetype fixture generator, so
    * the same corpus regenerates identically at any scale (FIXTURES.md §5).
    *
    * The benchmark corpus is ONE sub-split-size parquet file, so its scan
    * plans a single task; `ops.Queries.spreadThin` spreads the (tiny) id
    * rows over the cores BEFORE the expensive gen+extract pipeline. */
  def rawDocs(spark: SparkSession, sfDir: String): org.apache.spark.sql.Dataset[RawDoc] = {
    import spark.implicits._
    val ids = spark.read.parquet(s"$sfDir/documents.parquet")
      .select(col("doc_id").cast("string"))
      .as[String]
    ops.Queries.spreadThin(ids).map(id => rawDocFor(id))
  }

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0:
    * full extraction pipeline -> output span table. */
  def entry(spark: SparkSession): DataFrame = {
    val docs = rawDocs(spark, "/root/testdata/sf0.001")
    Extract.extractSpansDF(docs.toDF(), ExtractConfig.default)
      .filter(!col("quarantined"))
      .select("doc_id", "spans")
  }

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = ops.Queries.all

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = ops.Queries.oracles
}
