package graft
import org.apache.spark.sql.functions.col
import graft.io.TableIO
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val spark = Session.start()
    new java.io.File(outDir).mkdirs()
    SparkEntry.queries.foreach { case (name, fn) =>
      try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
    }
    // Materialize the reference-replay expected table (committed resource,
    // generated by graft.ExpectedDump + tools/gen_expected.py) in a SIBLING
    // directory of the output — NOT inside outDir, where the driver's oracle
    // gate would treat it as a query result and log a parquet-read error row
    // (VERDICT r02 #3) — so the extraction oracles (q01/q02/q03/q32) can read
    // it: their SQL carries a __GRAFT_EXPECTED__ token substituted with the
    // absolute CSV path here, at the only point the output location is known.
    val expectedCsv = new java.io.File(new java.io.File(outDir.stripSuffix("/") + "_aux"), "expected_docs.csv")
    expectedCsv.getParentFile.mkdirs()
    val res = getClass.getResourceAsStream("/graft/expected_docs.csv")
    if (res != null) {
      try Files.copy(res, expectedCsv.toPath, java.nio.file.StandardCopyOption.REPLACE_EXISTING)
      finally res.close()
    } else System.err.println("[verify] WARNING: expected_docs.csv resource missing")
    val expectedPath = expectedCsv.getAbsolutePath

    // Fail CLOSED on partial expected-table coverage (ADVICE r02 + r03): the
    // extraction oracles inner-join documents->expected, so a corpus whose
    // doc_ids fall outside the committed range would silently shrink the
    // oracle. Spark-side anti-join (a real CSV parse, no driver collect, no
    // naive split-on-comma), and a MISSING row is now a hard failure — the
    // process exits nonzero after the artifacts are written so the driver
    // run dies visibly with diagnosable output, instead of printing a
    // warning and handing the gate a silently-shrunk oracle.
    var coverageFailure: Option[String] = None
    if (expectedCsv.exists()) {
      try {
        // src_id (first CSV column) is the corpus doc_id key; doc_id (second)
        // is the archetype-tagged fixture name.
        val covered = spark.read.option("header", "true")
          .csv(expectedCsv.getAbsolutePath)
          .select(col("src_id").cast("string").as("id"))
        val missing = spark.read.parquet(s"$sfDir/documents.parquet")
          .select(col("doc_id").cast("string").as("id"))
          .join(covered, Seq("id"), "left_anti")
        val missingIds = missing.limit(5).collect().map(_.getString(0))
        if (missingIds.nonEmpty)
          coverageFailure = Some(s"expected_docs.csv is missing corpus doc_ids " +
            s"(first: ${missingIds.mkString(",")}) — regenerate via graft.ExpectedDump + " +
            "tools/gen_expected.py (see NOTES.md)")
      } catch { case e: Throwable =>
        coverageFailure = Some(s"coverage check itself failed: ${e.getMessage}")
      }
    } else coverageFailure = Some("expected_docs.csv resource missing — extraction oracles cannot run")

    // Jackson escapes quotes, backslashes and every control char: a tab or
    // CR in an oracle's SQL must not break the reader's json.load
    def q(s: String): String = TableIO.Json.writeValueAsString(s)
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v.replace("__GRAFT_EXPECTED__", expectedPath))}" }
      .mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    coverageFailure.foreach { msg =>
      System.err.println(s"[verify] FATAL: $msg")
      sys.exit(3) // after artifacts are written, so the failure is diagnosable
    }
  }
}
